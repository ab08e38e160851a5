package graft

import graft.ops.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit coverage for the similarity-search operators (SURVEY.md §2h):
  * cosine algebra against hand-computed values, top-k ordering and
  * tie-breaks, blocked near-dup pairs vs brute force, and IVF cell
  * pruning actually restricting the scan.
  */
class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Seq[Double], Int)*): DataFrame =
    rows.toDF("vec_id", "embedding", "label")

  test("cosine: hand-computed values") {
    val d = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 1.0), Seq(1.0, 1.0)),
      (Seq(3.0, 4.0), Seq(4.0, 3.0))).toDF("a", "b")
    val out = d.select(VectorOps.cosine(col("a"), col("b")).as("c"))
      .as[Double].collect()
    assert(math.abs(out(0) - 0.0) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) - 24.0 / 25.0) < 1e-12)
  }

  test("cosineTopK: descending similarity, ties broken by id, k respected") {
    val corpus = vecs(
      (1L, Seq(1.0, 0.0), 0), (2L, Seq(0.0, 1.0), 0),
      (3L, Seq(1.0, 1.0), 0), (4L, Seq(-1.0, 0.0), 0),
      (5L, Seq(1.0, 0.0), 0))
    val probe = corpus.filter(col("vec_id") === 1L)
    val out = VectorOps.cosineTopK(corpus, probe, "vec_id", "embedding", 3)
      .select("vec_id").as[Long].collect().toSeq
    // sims: 1→1.0, 5→1.0 (tie: id order), 3→0.707, 2→0, 4→-1
    assert(out === Seq(1L, 5L, 3L))
  }

  test("cosineNearDupPairs: equals brute force within blocks, respects blocking") {
    val d = vecs(
      (1L, Seq(1.0, 0.0, 0.0), 0), (2L, Seq(0.999, 0.01, 0.0), 0),
      (3L, Seq(0.0, 1.0, 0.0), 0), (4L, Seq(1.0, 0.0, 0.0), 1),
      (5L, Seq(1.0, 0.001, 0.0), 1), (6L, Seq(0.5, 0.5, 0.7), 1))
    val out = VectorOps.cosineNearDupPairs(d, "vec_id", "embedding", "label", 0.9)
      .as[(Long, Long)].collect().toSet
    // (1,2) same block ≈0.9999; (4,5) same block ≈1.0; (1,4) identical
    // vectors but DIFFERENT blocks — must NOT appear.
    assert(out === Set((1L, 2L), (4L, 5L)))
  }

  test("ivfTopK: scans only best nprobe cells, probe's own cell wins") {
    // three tight clusters along axes; probe = x-axis
    val d = vecs(
      (1L, Seq(1.0, 0.0, 0.0), 0), (2L, Seq(0.9, 0.1, 0.0), 0),
      (3L, Seq(0.0, 1.0, 0.0), 1), (4L, Seq(0.1, 0.9, 0.0), 1),
      (5L, Seq(0.0, 0.0, 1.0), 2), (6L, Seq(0.0, 0.1, 0.9), 2))
    val probe = d.filter(col("vec_id") === 1L)
    val out = VectorOps.ivfTopK(d,
      VectorOps.ivfCentroids(d, "embedding", "label"), probe,
      "vec_id", "embedding", "label", nprobe = 1, k = 4)
      .select("vec_id").as[Long].collect().toSeq
    // nprobe=1 → only label 0 scanned: ids 1,2 and nothing else
    assert(out === Seq(1L, 2L))
  }

  test("ivfCentroids: a non-finite member is left out of its label's mean, not poisoning the label") {
    val nan = Double.NaN
    val d = vecs(
      (1L, Seq(1.0, 0.0), 5), (2L, Seq(0.0, 2.0), 5),
      (3L, Seq(nan, nan), 5), (4L, Seq(Double.PositiveInfinity, 1.0), 5),
      (5L, Seq(0.0, 3.0), 6))
    val cents = VectorOps.ivfCentroids(d, "embedding", "label")
    val c = cents.as[(Int, Seq[Double])].collect().toMap
    assert(c === Map(5 -> Seq(0.5, 1.0), 6 -> Seq(0.0, 3.0)))
    // label 5 still ranks by its finite members: probe x-axis picks it
    // (cosine 0.447 vs label 6's 0), and only finite members surface
    val out = VectorOps.ivfTopK(d, cents, d.filter(col("vec_id") === 1L),
      "vec_id", "embedding", "label", nprobe = 1, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(out === Seq(1L, 2L))
  }

  test("native codegen'd dot/cosine ≡ HOF forms bit-for-bit, and SQL-addressable") {
    val rnd = new scala.util.Random(42)
    val d = (1 to 50).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextDouble() - 0.5), Seq.fill(64)(rnd.nextDouble() - 0.5))
    }.toDF("id", "a", "b")
    val out = d.select(
      VectorOps.dot(col("a"), col("b")).as("hof_dot"),
      VectorOps.nativeDot(col("a"), col("b")).as("nat_dot"),
      VectorOps.cosine(col("a"), col("b")).as("hof_cos"),
      VectorOps.nativeCosine(col("a"), col("b")).as("nat_cos"))
      .as[(Double, Double, Double, Double)].collect()
    out.foreach { case (hd, nd, hc, nc) =>
      assert(hd === nd) // identical left-to-right IEEE accumulation
      assert(hc === nc)
    }
    d.createOrReplaceTempView("vec_parity")
    val sql = spark.sql(
      "SELECT graft_cosine(a, b) AS c, graft_dot(a, b) AS p FROM vec_parity")
      .as[(Double, Double)].collect()
    assert(sql.length === 50 && sql.forall { case (c, p) => !c.isNaN && !p.isNaN })
  }

  test("native dot/cosine: nullable with NON-nullable children (mismatch + null element through codegen)") {
    // r12 advice: VectorFold returns null for non-null inputs (length
    // mismatch, null element), so inheriting BinaryExpression's
    // child-derived nullability is unsound — with non-nullable children
    // nullSafeCodeGen's non-null branch never declares ev.isNull and the
    // generated `isNull = true` fails to compile (silent interpreted
    // fallback), after which the optimizer folds IsNull to false over an
    // expression that IS null. Build inputs from array()/lit so the
    // children are provably non-nullable, and assert the null actually
    // surfaces through IsNull (which constant-folds away iff the
    // expression claims nullable=false).
    val d = Seq((1.0, 2.0), (3.0, 4.0)).toDF("x", "y")

    // length mismatch: array(x,y) vs array(x,y,x) — both non-nullable
    val mm = d.select(
      VectorOps.nativeDot(array(col("x"), col("y")),
        array(col("x"), col("y"), col("x"))).as("p"),
      VectorOps.nativeCosine(array(col("x"), col("y")),
        array(col("x"), col("y"), col("x"))).as("c"))
    assert(mm.schema.forall(_.nullable), "VectorFold must report nullable=true")
    val mmRows = mm.collect()
    assert(mmRows.forall(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(mm.filter(col("p").isNull && col("c").isNull).count() === 2,
      "IsNull must see the null (it constant-folds to false if nullable=false)")

    // null element inside an otherwise non-null array
    val ne = d.select(
      VectorOps.nativeDot(array(col("x"), lit(null).cast("double")),
        array(col("x"), col("y"))).as("p"))
    assert(ne.filter(col("p").isNull).count() === 2)
  }

  test("lshAnnTopK: identical vectors share a bucket; search ≡ brute force within the bucket") {
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 200L).map { i =>
      (i, Seq.fill(32)(rnd.nextDouble() - 0.5), 0)
    } :+ ((999L, Seq.tabulate(32)(j => if (j == 0) 1.0 else 0.0), 0))
    val d = vecs(corpus: _*)
    val probe = d.filter(col("vec_id") === 1L)

    // determinism + self-bucket: the probe itself must always be hit #1
    val out = VectorOps.lshAnnTopK(d, probe, "vec_id", "embedding", 8, 5)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    assert(out.head._1 === 1L && out.head._2 === 1.0)

    // the search result equals brute-force cosine top-k restricted to
    // the probe's bucket (pruning changes WHAT is scanned, not the
    // ranking semantics)
    val withBucket = d.select(col("vec_id"), col("embedding"),
      VectorOps.rhpBucket(VectorOps.toDouble(col("embedding")), 8).as("b"))
    val probeBucket = withBucket.filter(col("vec_id") === 1L)
      .select("b").as[Long].head()
    val sameBucket = withBucket.filter(col("b") === probeBucket)
      .select("vec_id", "embedding")
    val brute = VectorOps.cosineTopK(sameBucket, probe, "vec_id", "embedding", 5)
      .select("vec_id", "sim").as[(Long, Double)].collect().toSeq
    assert(out === brute)

    // bucket stability across partition counts (ingest-time property)
    val b1 = withBucket.repartition(1).select("vec_id", "b")
      .as[(Long, Long)].collect().toMap
    val b13 = withBucket.repartition(13).select("vec_id", "b")
      .as[(Long, Long)].collect().toMap
    assert(b1 === b13)

    // multi-probe: candidate set grows monotonically with probes, and
    // the full Hamming-1 ball's top-k similarity floor can only rise
    def topSims(p: Int): Seq[Double] =
      VectorOps.lshAnnTopK(d, probe, "vec_id", "embedding", 8, 5, probes = p)
        .select("sim").as[Double].collect().toSeq
    val s1 = topSims(1); val s9 = topSims(9)
    assert(s9.head === 1.0, "self must survive multi-probe")
    assert(s9.size >= s1.size)
    s1.zip(s9).foreach { case (a, b) =>
      assert(b >= a, s"recall must not drop with more probes: $s1 vs $s9")
    }
  }

  test("toDouble widens float arrays exactly") {
    val d = Seq(Seq(1.5f, -2.25f)).toDF("v")
    val out = d.select(VectorOps.toDouble(col("v")).as("d"))
      .as[Seq[Double]].collect().head
    assert(out === Seq(1.5, -2.25))
  }

  test("zero-norm vectors: NaN never outranks a real neighbor; no false near-dup pairs") {
    // Spark orders NaN ABOVE every real double — an all-zero corpus
    // vector (cos = 0/0 = NaN) sat at rank 1 before the r12 guard
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 0.0)))
      .toDF("id", "v")
    val probe = Seq(Tuple1(Seq(1.0, 0.0))).toDF("v")
    val top = VectorOps.cosineTopK(corpus, probe, "id", "v", 2)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq === Seq(1L, 2L),
      s"zero-norm row must not displace true neighbors: ${top.toSeq}")
    // pairs: the dot >= t*|a|*|b| rewrite degenerates to 0 >= 0 for a
    // zero vector — it would have paired with its whole block
    val blocked = Seq(
      (1L, Seq(1.0, 0.0), "b"), (2L, Seq(0.99, 0.14), "b"),
      (3L, Seq(0.0, 0.0), "b"))
      .toDF("id", "v", "blk")
    val pairs = VectorOps.cosineNearDupPairs(blocked, "id", "v", "blk", 0.9)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)),
      s"zero vector must pair with nothing: $pairs")
  }

  test("non-finite vectors pair with NOTHING (r16 naninf probe): " +
       "Spark's NaN-greater-than-everything passed the > 0 norm guard") {
    // a NaN norm satisfied `> 0` AND the NaN-vs-NaN threshold
    // comparison (Spark orders NaN above every value and NaN = NaN),
    // so one NaN embedding paired with its whole block; an Inf norm
    // passed `> 0` the ordinary way. The finite-norm guard
    // (`<= MaxValue`, false for both under the same semantics) is the
    // contract: a vector with a non-finite component has no direction.
    val nan = Double.NaN
    val inf = Double.PositiveInfinity
    val blocked = Seq(
      (1L, Seq(1.0, 0.0), "b"), (2L, Seq(0.99, 0.14), "b"),
      (3L, Seq(nan, inf), "b"), (4L, Seq(inf, inf), "b"))
      .toDF("id", "v", "blk")
    val pairs = VectorOps.cosineNearDupPairs(blocked, "id", "v", "blk", 0.9)
      .as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)),
      s"non-finite vectors must pair with nothing: $pairs")
  }

  test("portable cosine: zero-norm yields NaN under ANSI (native parity), not DIVIDE_BY_ZERO") {
    // r14 review: under Spark 4's ANSI default a raw double division
    // throws — one all-zero embedding killed any scan through the HOF
    // form while the native codegen yielded a filterable NaN. The
    // guarded CaseWhen restores parity without touching the nonzero
    // path's bit-exactness (the parity test above asserts ===).
    val d = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 2.0)),   // zero-norm left
      (Seq(0.0, 0.0), Seq(0.0, 0.0)),   // both zero
      (null, Seq(1.0, 0.0))             // null stays null
    ).toDF("a", "b")
    val out = d.select(
        VectorOps.cosine(col("a"), col("b")).as("hof"),
        VectorOps.nativeCosine(col("a"), col("b")).as("nat"))
      .collect()
    Seq(0, 1).foreach { i =>
      assert(out(i).getDouble(0).isNaN && out(i).getDouble(1).isNaN,
        s"row $i: expected NaN/NaN, got ${out(i)}")
    }
    assert(out(2).isNullAt(0) && out(2).isNullAt(1),
      "NULL input must stay NULL in both forms")
  }

  test("NULL embeddings never surface in top-k output (isnan(NULL) is false, not true)") {
    // r14 review: graft_cosine returns NULL (not NaN) for null/ragged
    // vectors, and !isnan(NULL) evaluates to... NULL→false→kept by
    // the old filter only through the not — concretely, the NULL sim
    // rows survived the NaN guard and, when rankable rows were fewer
    // than k, padded the top-k with (id, NULL) rows the oracle drops
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, null: Seq[Double]), (3L, Seq(0.5)))
      .toDF("id", "v") // id 2 NULL, id 3 ragged → both sim NULL
    val probe = Seq(Tuple1(Seq(1.0, 0.0))).toDF("v")
    val top = VectorOps.cosineTopK(corpus, probe, "id", "v", 3)
      .as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq === Seq(1L),
      s"NULL-sim rows must be dropped, not padded in: ${top.toSeq}")
  }

  test("rhpBucket: bits past a long's width fail fast instead of aliasing planes") {
    intercept[IllegalArgumentException] {
      VectorOps.rhpBucket(col("v"), 65)
    }
  }

  test("graft_dot/graft_cosine: wrong arity is an analysis error, never a silently dropped argument") {
    // r14 review: children(0)/children(1) alone made graft_dot(a,b,c)
    // return dot(a,b) — a plausible wrong answer through the SQL front
    // door — and graft_dot(a) threw a raw IndexOutOfBounds
    Seq(Seq(1.0, 2.0)).toDF("v").createOrReplaceTempView("arity_probe")
    for (sql <- Seq(
      "SELECT graft_dot(v, v, v) FROM arity_probe",
      "SELECT graft_dot(v) FROM arity_probe",
      "SELECT graft_cosine(v) FROM arity_probe")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }
      assert(e.getMessage.contains("requires 2 parameters"), s"$sql: $e")
    }
  }

  test("native dot/cosine: null on length mismatch or null element — the HOF forms' semantics") {
    val d = Seq(
      ("ok", Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),
      ("ragged", Seq[java.lang.Double](1.0, 2.0, 5.0), Seq[java.lang.Double](3.0, 4.0)),
      ("nullel", Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("tag", "a", "b")
    val out = d.select(col("tag"),
      VectorOps.nativeDot(col("a"), col("b")).as("nd"),
      VectorOps.nativeCosine(col("a"), col("b")).as("nc"),
      VectorOps.dot(col("a"), col("b")).as("hd"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("ok")._1 === Some(11.0))
    // a truncated partial sum would be a plausible-looking WRONG
    // number on a ragged embedding; the HOF returns null and so must
    // the native form
    assert(out("ragged") === ((None, None, None)))
    assert(out("nullel") === ((None, None, None)))
  }
}
