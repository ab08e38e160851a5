package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import graft.ops.FsOps

/** The one owner of on-disk scratch state: the tmp root, the `graft_`
  * naming, and how long each path lives. Every path a query, op or
  * source writes under the tmp root is named here, in one of two
  * lifetimes:
  *   - per application — [[app]], [[call]], [[database]], [[track]]:
  *     recorded per application id and removed by one SparkListener
  *     on `onApplicationEnd`. SparkContext.stop posts that event before
  *     the listener bus drains, so the sweep runs when no job of the
  *     application can still read the paths; Spark's own shutdown hook
  *     stops the context, so a clean JVM exit reclaims them too, and a
  *     long-lived JVM reclaims each application's paths at its stop.
  *   - shared — [[shared]]: content-keyed artifacts built once per
  *     dataset and reused across applications, and files an external
  *     reader needs after the JVM exits. Never recorded, never swept.
  *
  * Per-application naming is `graft_<name>_<applicationId>`, unique
  * per application so concurrent sessions never overwrite each other;
  * one day of runs once left 1,704 unreclaimed sink dirs (~3 GB) under
  * that naming before the sweep existed. Crash residue (no
  * ApplicationEnd) still stays behind.
  */
object Scratch {

  /** The tmp root every scratch path lives under. */
  def root: String = System.getProperty("java.io.tmpdir")

  /** `root/graft_<name>_<applicationId>`, recorded for the app-end
    * sweep. Callers create and write it themselves; this only names
    * and tracks it. Idempotent per (application, name).
    */
  def app(s: SparkSession, name: String): String = {
    installFor(s.sparkContext, s.sparkContext.applicationId): Unit
    register(s.sparkContext.applicationId, name)
  }

  private val calls = new java.util.concurrent.atomic.AtomicLong

  /** A fresh [[app]] path per call (`graft_<name>_<n>_<applicationId>`)
    * for a query whose re-run must not see an earlier run's files.
    * Still recorded for the sweep; callers that can delete it earlier
    * do so.
    */
  def call(s: SparkSession, name: String): String =
    app(s, s"${name}_${calls.incrementAndGet()}")

  /** The application's catalog database `g_<applicationId>`, created
    * if absent (a catalog command, not a Spark job). Its warehouse
    * directory — where managed tables in it keep their files — is
    * recorded for the sweep. The warehouse is read from the session,
    * which may set its own.
    */
  def database(s: SparkSession): String = {
    installFor(s.sparkContext, s.sparkContext.applicationId): Unit
    databaseFor(s, s.sparkContext.applicationId)
  }

  /** [[database]] under an explicit app id, registering no listener —
    * the spec seam, like [[register]]. */
  private[graft] def databaseFor(s: SparkSession, appId: String): String = {
    val db = "g_" + appId.replaceAll("[^a-zA-Z0-9]", "_")
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    record(appId, s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$db.db")
    db
  }

  /** Records a path another module names for the app-end sweep. */
  def track(s: SparkSession, path: String): Unit = {
    installFor(s.sparkContext, s.sparkContext.applicationId): Unit
    record(s.sparkContext.applicationId, path): Unit
  }

  /** `root/graft_<name>`, shared across applications and never swept. */
  def shared(name: String): String = s"$root/graft_${checked(name)}"

  private def checked(name: String): String = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"scratch name must be [A-Za-z0-9_]+, got '$name'")
    name
  }

  private val byApp =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.Set[String]]()

  /** Apps whose sweep listener is installed, tracked separately from
    * the path map: if installation keyed off the map, a [[register]]
    * under the live application id before the first [[app]] call would
    * populate it and silently suppress the listener.
    */
  private val listenerApps =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Install the end-of-app sweep listener for `appId` if not yet
    * installed; returns whether THIS call installed it. Set.add is
    * atomic, so exactly one caller per app installs, and the decision
    * reads only [[listenerApps]]. A spec seam: a fake-id listener
    * sweeps an empty registration at app end, a no-op.
    */
  private[graft] def installFor(sc: SparkContext, appId: String): Boolean = {
    val installed = listenerApps.add(appId)
    if (installed) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          listenerApps.remove(appId): Unit
          sweep(appId)
        }
      })
    }
    installed
  }

  /** Naming and bookkeeping half of [[app]], keyed by an explicit app
    * id and registering no listener: the spec seam for register/sweep
    * under a fake app id, which never touches the shared session's
    * registration or stops its context.
    */
  private[graft] def register(appId: String, name: String): String =
    record(appId, s"$root/graft_${checked(name)}_$appId")

  private def record(appId: String, path: String): String = {
    byApp.computeIfAbsent(appId,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(path): Unit
    path
  }

  /** Best-effort delete of every path recorded for `appId`, then forget
    * the registration. rmTree semantics (FsOps): cleanup at app end
    * must never throw over the app's own outcome.
    */
  private[graft] def sweep(appId: String): Unit =
    Option(byApp.remove(appId)).foreach { set =>
      set.forEach(p => FsOps.rmTree(new java.io.File(p)))
    }

  /** Paths currently recorded for an app — spec visibility only. */
  private[graft] def recorded(appId: String): Set[String] = {
    val s = byApp.get(appId)
    if (s == null) Set.empty
    else { val b = Set.newBuilder[String]; s.forEach(b += _); b.result() }
  }
}
