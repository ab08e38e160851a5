package graft

import graft.ops.RelationalOps._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unit coverage per RelationalOps combinator (SURVEY.md §5.2) on
  * hand-built frames with known outputs — including decodeEnvelope,
  * which no oracle query exercises.
  */
class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("excludeKey drops exactly the bad key (P1)") {
    val df = Seq("000001", "000002", "000003").toDF("sp_code")
    val out = excludeKey(df, "sp_code", "000002").as[String].collect().sorted
    assert(out.sameElements(Array("000001", "000003")))
  }

  test("excludeKey keeps NULL keys — only the bad key is dropped") {
    // a bare =!= evaluates to NULL for NULL keys and filter() would
    // silently discard them along with the bad key
    val df = Seq("000001", "000002", null).toDF("sp_code")
    val out = excludeKey(df, "sp_code", "000002")
      .as[Option[String]].collect().toSet
    assert(out === Set(Some("000001"), None))
  }

  test("isMissing treats NULL and '' as the same missing state (P2)") {
    val df = Seq(Some("x"), Some(""), None).toDF("v")
    assert(df.filter(isMissing($"v")).count() === 2)
  }

  test("inListNullFill fills only null rows whose key is in the list (P3)") {
    val df = Seq(
      ("000003", null.asInstanceOf[String]),
      ("000003", "kept"),
      ("999999", null.asInstanceOf[String])).toDF("chain_no", "responsible")
    val out = inListNullFill(df, "responsible", "chain_no", Seq("000003"), "직영")
      .orderBy("chain_no", "responsible").as[(String, String)].collect()
    assert(out.toSeq === Seq(
      ("000003", "kept"), ("000003", "직영"), ("999999", null)))
  }

  test("renameProject maps staging names to mart names (P5)") {
    val df = Seq((1L, 10.0)).toDF("total_amt", "cash_amt")
    val out = renameProject(df,
      Seq("total_amt" -> "chong_maechool", "cash_amt" -> "cash_maechool"))
    assert(out.columns.toSeq === Seq("chong_maechool", "cash_maechool"))
  }

  test("castAllString preserves NULL (F4)") {
    val df = Seq((Some(1), Some(2.5)), (None, None)).toDF("a", "b")
    val out = castAllString(df)
    assert(out.schema.fields.forall(_.dataType == StringType))
    assert(out.filter($"a".isNull && $"b".isNull).count() === 1)
  }

  test("parseYyyymmdd: valid parses, malformed → null (F1)") {
    val df = Seq("20240131", "2024-01-31", "garbage").toDF("d")
    val out = df.select(parseYyyymmdd($"d").as("p")).collect().map(_.get(0))
    assert(out(0) == java.sql.Date.valueOf("2024-01-31"))
    assert(out(1) == null && out(2) == null)
  }

  test("formatYyyymmdd round-trips with parse (F2)") {
    val df = Seq("20231205").toDF("d")
    val out = df.select(formatYyyymmdd(parseYyyymmdd($"d")).as("r"))
      .as[String].head()
    assert(out === "20231205")
  }

  test("dateRange generates every date inclusive (F6)") {
    val out = spark.range(1)
      .select(dateRange("2024-02-27", "2024-03-02").as("d")).count()
    assert(out === 5) // leap year: 27,28,29,1,2
  }

  test("crossJoinWorklist = keys × dates (J5)") {
    val keys = Seq("a", "b", "c").toDF("k")
    assert(crossJoinWorklist(keys, "2024-01-01", "2024-01-04").count() === 12)
  }

  test("upsertLatestWins: incoming beats target, new keys appended (U1)") {
    val target = Seq((1, "old"), (2, "old")).toDF("k", "v")
    val incoming = Seq((2, "new"), (3, "new")).toDF("k", "v")
    val out = upsertLatestWins(target, incoming, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq === Seq((1, "old"), (2, "new"), (3, "new")))
  }

  test("upsertLatestWins: a multi-column tiebreak with a descending key orders same-side copies") {
    // NightlyRun's shape: the target may hold one key twice (an old and
    // a corrected date). With no incoming copy the tiebreak picks the
    // survivor: latest date first, then the next column ascending.
    val target = Seq((1, 10, "a", "t10a"), (1, 12, "b", "t12b"),
      (1, 12, "a", "t12a"), (2, 5, "a", "t5")).toDF("k", "d", "s", "v")
    val incoming = Seq((2, 1, "z", "i1"), (3, 7, "a", "i7")).toDF("k", "d", "s", "v")
    Seq(1, 3).foreach { n =>
      val out = upsertLatestWins(target.repartition(n), incoming, Seq("k"),
        tiebreak = Seq(col("d").desc, col("s")))
        .orderBy("k").select("k", "v").as[(Int, String)].collect()
      assert(out.toSeq === Seq((1, "t12a"), (2, "i1"), (3, "i7")), s"at $n partitions")
    }
  }

  test("newRows/existingRows split incoming by key presence (J3/J4)") {
    val target = Seq(1, 2).toDF("k")
    val incoming = Seq((2, "x"), (3, "y")).toDF("k", "v")
    assert(newRows(incoming, target, Seq("k")).as[(Int, String)].head() === ((3, "y")))
    assert(existingRows(incoming, target, Seq("k")).as[(Int, String)].head() === ((2, "x")))
  }

  test("enrichJoinOverwrite: dim wins when matched, fact kept otherwise, dup dims no fanout (J1)") {
    val fact = Seq((1, "keep"), (2, "lose")).toDF("k", "v")
    val dim = Seq((2, "dimv"), (2, "dimv2")).toDF("k", "dv") // duplicate key
    val out = enrichJoinOverwrite(fact, dim, "k", "v", "dv")
      .orderBy("k").as[(Int, String)].collect()
    assert(out.length === 2) // no fanout
    assert(out.toSeq === Seq((1, "keep"), (2, "dimv")))
  }

  test("dimFillWhenEmpty fills NULL and '' only (J2)") {
    val fact = Seq((1, null.asInstanceOf[String]), (2, ""), (3, "set"))
      .toDF("k", "v")
    val dim = Seq((1, "f1"), (2, "f2"), (3, "f3")).toDF("dk", "dv")
    val out = dimFillWhenEmpty(fact, dim, "k", "dk", "v", "dv")
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq === Seq((1, "f1"), (2, "f2"), (3, "set")))
  }

  test("dimFillWhenEmpty leaves unmatched rows untouched — '' is not rewritten to NULL") {
    // the reference's UPDATE...JOIN touches only matched rows; a row
    // with '' and NO dim match must keep its '' (the old when()
    // assigned the NULL _fill_v over it)
    val fact = Seq((1, ""), (2, "")).toDF("k", "v")
    val dim = Seq((1, "f1")).toDF("dk", "dv")
    val out = dimFillWhenEmpty(fact, dim, "k", "dk", "v", "dv")
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq === Seq((1, "f1"), (2, "")))
  }

  test("decodeEnvelope: a keep column SHADOWS a same-named payload field (loop date wins)") {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
    val schema = new StructType()
      .add("ret_code", StringType)
      .add("data", ArrayType(new StructType()
        .add("id", LongType).add("d", StringType)))
    // the API returns its own date d='9999-09-09'; the work unit's d
    // must win and the output must have exactly ONE d column
    val raw = Seq(("2024-01-05", """{"ret_code":"0000","data":[{"id":7,"d":"9999-09-09"}]}"""))
      .toDF("d", "payload")
    val out = decodeEnvelope(raw, "payload", schema, keep = Seq("d"))
    assert(out.columns.count(_ == "d") === 1)
    assert(out.select("d", "id").as[(String, Long)].collect().toSeq ===
      Seq(("2024-01-05", 7L)))
  }

  test("saltedJoin and profileColumns fail attributably on degenerate arguments") {
    val df = Seq((1, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] { saltedJoin(df, df, "k", 0) }
    intercept[IllegalArgumentException] { profileColumns(df, Nil) }
  }

  test("reserved working names are rejected, never silently clobbered") {
    // r14 review: withColumn would OVERWRITE a same-named business
    // column and drop it on the way out — a column vanishing from the
    // output with no error
    val salted = Seq((1, 0L)).toDF("k", "_salt")
    val plain = Seq((1, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] { saltedJoin(salted, plain, "k", 4) }
    intercept[IllegalArgumentException] { saltedJoin(plain, salted, "k", 4) }
    val pri = Seq((1, 9)).toDF("k", "_src_priority")
    intercept[IllegalArgumentException] { upsertLatestWins(pri, plain, Seq("k")) }
    intercept[IllegalArgumentException] { upsertLatestWins(plain, pri, Seq("k")) }
    intercept[IllegalArgumentException] {
      profileColumns(Seq(Tuple1(1)).toDF("_cnt"), Seq("_cnt"))
    }
  }

  test("decodeEnvelope: keep shadows a payload field that differs only in CASE") {
    // r14 review: the collision filter was case-sensitive while Spark
    // resolution is case-insensitive by default — a payload STORE_ID
    // next to keep("store_id") re-opened the AMBIGUOUS_REFERENCE the
    // filter exists to close
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
    val schema = new StructType()
      .add("ret_code", StringType)
      .add("data", ArrayType(new StructType()
        .add("id", LongType).add("STORE_ID", StringType)))
    val raw = Seq(("s1", """{"ret_code":"0000","data":[{"id":7,"STORE_ID":"api"}]}"""))
      .toDF("store_id", "payload")
    val out = decodeEnvelope(raw, "payload", schema, keep = Seq("store_id"))
    assert(out.columns.count(_.equalsIgnoreCase("store_id")) === 1)
    assert(out.select("store_id", "id").as[(String, Long)].collect().toSeq ===
      Seq(("s1", 7L)), "the work unit's coordinate wins, resolvable by name")
  }

  test("decodeEnvelope: under caseSensitive=true a distinct-case payload field SURVIVES") {
    // r15 ADVICE: the r14 ignore-case collision filter ran
    // unconditionally, so a caseSensitive=true session — where
    // STORE_ID and store_id are genuinely distinct, analyzable
    // columns — silently lost the payload field. The filter must
    // follow the session's resolution rule.
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
    val schema = new StructType()
      .add("ret_code", StringType)
      .add("data", ArrayType(new StructType()
        .add("id", LongType).add("STORE_ID", StringType)))
    Session.scoped(spark, "spark.sql.caseSensitive" -> "true") { c =>
      val raw = c.createDataFrame(
        Seq(("s1", """{"ret_code":"0000","data":[{"id":7,"STORE_ID":"api"}]}""")))
        .toDF("store_id", "payload")
      val out = decodeEnvelope(raw, "payload", schema, keep = Seq("store_id"))
      assert(out.columns.toSeq === Seq("store_id", "id", "STORE_ID"),
        s"distinct-case payload field must survive: ${out.columns.toSeq}")
      assert(out.select("store_id", "id", "STORE_ID")
        .as[(String, Long, String)].collect().toSeq === Seq(("s1", 7L, "api")))
    }
  }

  test("decodeEnvelope: ret_code gate drops bad batches, payload fields nullable (S1)") {
    val schema = StructType(Seq(
      StructField("ret_code", StringType),
      StructField("data", ArrayType(StructType(Seq(
        StructField("sp_code", StringType),
        StructField("total_amt", StringType)))))))
    val raw = Seq(
      """{"ret_code":"0000","data":[{"sp_code":"s1","total_amt":"10"},{"sp_code":"s2"}]}""",
      """{"ret_code":"9999","data":[{"sp_code":"bad","total_amt":"99"}]}""").toDF("body")
    val out = decodeEnvelope(raw, "body", schema)
    assert(out.count() === 2) // bad envelope dropped entirely
    val r = out.orderBy("sp_code").collect()
    assert(r(0) === Row("s1", "10"))
    assert(r(1) === Row("s2", null)) // missing field → null (.get semantics)
  }

  test("qualityGate: one verdict per expectation, failures observed not thrown") {
    val df = Seq((1L, 10.0), (2L, -5.0), (2L, 3.0)).toDF("k", "v")
    val out = qualityGate(df, Seq(
      ("rows_min_2", count(lit(1)), (m: org.apache.spark.sql.Column) => m >= 2),
      ("k_unique", count(lit(1)) - countDistinct(col("k")),
        (m: org.apache.spark.sql.Column) => m === 0),
      ("v_nonneg", count(when(col("v") < 0, lit(1))),
        (m: org.apache.spark.sql.Column) => m === 0)))
      .as[(String, Double, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("rows_min_2") === ((3.0, true)))
    assert(out("k_unique") === ((1.0, false)), "duplicate key must FAIL, not throw")
    assert(out("v_nonneg") === ((1.0, false)))
  }

  test("qualityGate fails CLOSED when a metric aggregates to NULL") {
    // r14 review: avg over an empty slice observes NULL, pass(NULL) is
    // NULL (neither true nor false), and a caller filtering
    // passed === false saw no failure — the gate failed OPEN
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val out = qualityGate(empty, Seq(
      ("avg_sane", avg(col("v")),
        (m: org.apache.spark.sql.Column) => m.between(0, 100)),
      ("nonempty", count(lit(1)),
        (m: org.apache.spark.sql.Column) => m > 0)))
      .as[(String, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("avg_sane") === ((None, false)),
      "an unevaluable expectation has NOT passed")
    assert(out("nonempty") === ((Some(0.0), false)))
  }

  test("rebalanceScan guard: metadata estimate matches the physical probe (r22)") {
    // r22 (VERDICT r21 finding 5): the guard moved from df.rdd (which
    // forces physical planning + split enumeration per invocation) to a
    // FileIndex-metadata estimate. Parity contract: on every fixture
    // table the estimate must equal the task count the old probe saw,
    // so every guard decision is unchanged at any `want` threshold.
    for (sf <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1");
         t <- Seq("lineitem", "documents", "orders", "events", "embeddings")
         if new java.io.File(s"$sf/$t.parquet").exists()) {
      val df = Tables.load(spark, sf, t)
      val est = graft.ops.RelationalOps.estimatedScanSplits(df)
      val actual = df.rdd.getNumPartitions.toLong
      assert(est.contains(actual), s"$sf/$t: estimate $est != physical $actual")
    }
    // a plan that is not a single file relation stays untouched
    val union = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
      .unionByName(Tables.load(spark, "/root/testdata/sf0.01", "lineitem"))
    assert(graft.ops.RelationalOps.estimatedScanSplits(union).isEmpty)
    assert(rebalanceScan(union, col("l_orderkey")) eq union)
  }

  test("rebalanceScan spreads a filtered, projected one-split scan; a many-split scan keeps its plan") {
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    // q84's use: the compact (doc_id, pfx) rows of a filtered scan
    def compact(s: org.apache.spark.sql.SparkSession) =
      Tables.load(s, "/root/testdata/sf0.01", "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id"), substring(col("text"), 1, 48).as("pfx"))
    val want = spark.sparkContext.defaultParallelism
    val one = compact(spark)
    assert(estimatedScanSplits(one).contains(1L), "test premise: one split")
    val spread = rebalanceScan(one, col("doc_id"))
    val parts = spread.queryExecution.logical.collect {
      case r: RepartitionByExpression => r.numPartitions
    }
    assert(parts === Seq(want), s"expected one hash spread to $want partitions")
    // many splits (a small split size stands in for a large table)
    Session.scoped(spark, "spark.sql.files.maxPartitionBytes" -> (8 * 1024).toString) { c =>
      val many = compact(c)
      val est = estimatedScanSplits(many).get
      assert(est > want, s"test premise broken: estimate $est not > $want")
      assert(rebalanceScan(many, col("doc_id")) eq many)
    }
  }

  test("scanScaledPartitions: floor at fixture scale, scan-tracking at volume (r22)") {
    val df = Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    // fixture parquet is one row group → estimate 1 → the historical
    // constant survives unchanged (local bench comparability)
    assert(graft.ops.RelationalOps.scanScaledPartitions(df, 8) === 8)
    // shrink the split size to simulate a many-split production table:
    // the count must track the (now large) scan estimate, not the floor
    Session.scoped(spark, "spark.sql.files.maxPartitionBytes" -> (64 * 1024).toString) { c =>
      val small = Tables.load(c, "/root/testdata/sf0.01", "lineitem")
      val scaled = graft.ops.RelationalOps.scanScaledPartitions(small, 8)
      val est = graft.ops.RelationalOps.estimatedScanSplits(small).get
      assert(est > 8, s"test premise broken: estimate $est not > 8")
      assert(scaled === est.toInt, s"scaled $scaled != estimate $est")
    }
    // a non-single-relation plan keeps the floor untouched
    val union = df.unionByName(df)
    assert(graft.ops.RelationalOps.scanScaledPartitions(union, 8) === 8)
  }

  test("sumMoney is exact regardless of partitioning") {
    val df = spark.range(1000).select((col("id") % 7 * lit(0.01) + 100.0).as("v"))
    val a = df.repartition(1).agg(sumMoney($"v")).as[Double].head()
    val b = df.repartition(13).agg(sumMoney($"v")).as[Double].head()
    assert(a === b)
  }
}
