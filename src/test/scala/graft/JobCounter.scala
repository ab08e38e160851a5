package graft

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Shared FIFO-settled Spark-job counter for tests (LazyRegistrySpec
  * and NightlyRunSpec, its soak case included). A settle that returned
  * as soon as ANY job-start event landed after its mark would let a
  * BODY job's event still in flight on the listener bus satisfy the
  * wait before the sentinel's own event was counted, undercounting one
  * window and overcounting the next. This settle waits for the
  * SENTINEL'S OWN event, identified by a unique job-group tag: the
  * listener bus delivers events in order, so once the sentinel's start
  * event has arrived, every job started before it has been counted.
  */
final class JobCounter(sc: SparkContext) extends AutoCloseable {
  private val jobStarts = new AtomicInteger(0)
  private val seen =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // first-stage names of non-sentinel jobs started outside any SQL
  // execution (helpers such as parquet footer merging)
  private val outside =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobStarts.incrementAndGet()
      val props = Option(j.properties)
      val g = props.map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(JobCounter.Tag)) { seen.add(g); () }
      else if (props.forall(_.getProperty("spark.sql.execution.id") == null)) {
        outside.add(j.stageInfos.headOption.map(_.name).getOrElse(s"job ${j.jobId}")); ()
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run one tagged sentinel job (exactly ONE Spark job — an RDD count,
    * no AQE) and wait until ITS start event has been delivered. Returns
    * the running count INCLUDING the sentinel.
    */
  def settle(): Int = {
    val tag = JobCounter.Tag + java.util.UUID.randomUUID().toString
    // job groups are thread-local: tagging scopes to this sentinel
    // only. RESTORE the caller's group rather than clearing (r21
    // ADVICE): clearJobGroup would silently wipe a job group the
    // calling thread had set for its own tagging.
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(tag, "job-counter settle sentinel")
    try { sc.parallelize(Seq(1)).count(): Unit }
    finally {
      sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      sc.setLocalProperty("spark.job.description", prevDesc)
      sc.setLocalProperty("spark.job.interruptOnCancel", prevInterrupt)
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen.contains(tag) && System.nanoTime() < deadline)
      Thread.sleep(5)
    require(seen.contains(tag), "sentinel job event never arrived")
    jobStarts.get()
  }

  /** Jobs started during `body`, excluding the settling sentinels. */
  def counted[A](body: => A): (A, Int) = {
    val mark = settle()
    val a = body
    (a, settle() - mark - 1) // minus the closing settle's sentinel
  }

  /** Stage names of the jobs started during `body` that carry no
    * `spark.sql.execution.id`, i.e. that no planned query accounts for.
    */
  def outsideSql[A](body: => A): (A, Seq[String]) = {
    settle(): Unit
    val mark = outside.size
    val a = body
    settle(): Unit
    (a, outside.asScala.toSeq.drop(mark))
  }

  override def close(): Unit = sc.removeSparkListener(listener)
}

object JobCounter {
  private[graft] val Tag = "graft-settle-"
}
