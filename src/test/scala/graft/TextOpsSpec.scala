package graft

import graft.ops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit + recall coverage for the text/dedup operators (SURVEY.md §2f/
  * §2h). The LSH recall test is the ADVICE.md follow-up for q29: the
  * banding pipeline is checked against exhaustive all-pairs ground
  * truth on the real sf0.001 corpus + planted near-dups — recall must
  * be 1.0 there, and the corpus must have no organic pairs hovering at
  * the threshold (the two facts that make q29's bitwise oracle safe).
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  test("exactDedupGroups: one group per distinct text, keeper = min id") {
    val d = docs(1L -> "a b c", 2L -> "x y", 7L -> "a b c", 5L -> "a b c")
    val out = TextOps.exactDedupGroups(d, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 3L), (2L, 1L)))
  }

  test("exactDedupGroups: null-text docs form no group — absent content is not shared content") {
    // sha2(null) is null and groupBy keeps the null key: without the
    // op's filter, docs 3 and 9 would merge into one "duplicate"
    // group and doc 9 would be retired against unrelated doc 3
    val d = docs(1L -> "a b c", 3L -> null, 9L -> null, 7L -> "a b c")
    val out = TextOps.exactDedupGroups(d, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(out === Set((1L, 2L)))
  }

  test("shingles: n-grams of tokens, distinct, empty below width") {
    val out = docs(1L -> "a b c d", 2L -> "a b")
      .select(col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L).toSet === Set("a b c", "b c d"))
    assert(out(2L) === Seq.empty)
  }

  test("shingles stays LINEAR on a long document (r16 megadoc probe)") {
    // the old transform-lambda referenced the token array, and
    // interpreted HOF eval re-evaluates a referenced expression per
    // element — with toks = split(text) that re-split the whole text
    // once per position: O(n²). One 200k-token doc turned q90 into a
    // 10-minute task; this 20k-token doc would take ~minutes under
    // that shape and milliseconds under the zip_with chain. The
    // assertion is value-exact: a 50-word cyclic vocabulary has
    // exactly 50 distinct consecutive trigrams.
    val words = (0 until 20000).map(i => s"w${i % 50}")
    val n = docs(1L -> words.mkString(" "))
      .select(size(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("n"))
      .as[Int].head()
    assert(n === 50)
  }

  test("ngramHashes64 ≡ string shingles as a set (sizes, intersections, order-sensitivity)") {
    val d = docs(1L -> "a b c d e", 2L -> "e d c b a", 3L -> "a b c d e",
      4L -> "a b", 5L -> "x y z a b c d e")
    val out = d.select(col("doc_id"),
      size(TextOps.ngramHashes64(TextOps.tokens(col("text")), 3)).as("n_num"),
      size(TextOps.shingles(TextOps.tokens(col("text")), 3)).as("n_str"),
      TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("h"))
      .as[(Long, Int, Int, Seq[Long])].collect().map(r => r._1 -> r).toMap
    out.values.foreach { case (id, nNum, nStr, _) =>
      assert(nNum === nStr, s"set size diverged for doc $id")
    }
    // order sensitivity: reversed token order ⇒ disjoint shingle sets
    assert(out(1L)._4.toSet.intersect(out(2L)._4.toSet).isEmpty)
    // identical docs ⇒ identical hash sets; sub-document ⇒ subset
    assert(out(1L)._4 === out(3L)._4)
    assert(out(1L)._4.toSet.subsetOf(out(5L)._4.toSet))
  }

  test("minhashSignatures: deterministic and partition-count independent") {
    val d = docs(1L -> "w1 w2 w3 w4 w5 w6", 2L -> "z1 z2 z3 z4 z5")
      .select(col("doc_id"),
        TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("hs"))
    def sigs(parts: Int): Map[Long, Seq[Long]] =
      TextOps.minhashSignatures(d.repartition(parts), "doc_id", "hs", 8)
        .as[(Long, Seq[Long])].collect().toMap
    val s1 = sigs(1)
    assert(s1 === sigs(5))
    assert(s1(1L).length === 8)
    assert(s1(1L).forall(v => v >= 0L && v < 2147483647L))
  }

  test("docFingerprint: bounded accumulator — no overflow on huge docs") {
    val hugeDoc = ("tok " * 200000).trim // 200k tokens: naive Σ overflows Long
    val out = docs(1L -> hugeDoc, 2L -> "a b c")
      .select(col("doc_id"), TextOps.docFingerprint(TextOps.tokens(col("text"))).as("fp"))
      .as[(Long, Long)].collect().toMap
    val p = 2147483647L
    assert(out.values.forall(v => v >= 0L && v < p))
    // independent scala reference for the small doc: Σ i·(ascii·131+len) mod p
    val toks = Seq("a", "b", "c")
    val expect = toks.zipWithIndex.map { case (t, i) =>
      (i + 1L) * (t.head.toLong * 131L + t.length)
    }.sum % p
    assert(out(2L) === expect)
  }

  test("docFingerprint: empty token array fingerprints to 0, not NULL") {
    // zip_with against sequence(1, 0) = [1, 0] null-pads the empty
    // side and the fold returned NULL — silently dropping the doc
    // from fingerprint-equality joins. The empty sum mod p is 0.
    import org.apache.spark.sql.functions.typedLit
    val out = Seq((1L, Seq.empty[String]), (2L, Seq("a", "b")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), TextOps.docFingerprint(col("toks")).as("fp"))
      .as[(Long, java.lang.Long)].collect().toMap
    assert(out(1L) === 0L)
    assert((out(2L): Any) != null)
    assert(out(2L).longValue != 0L)
  }

  test("docFingerprint: a NULL token array fingerprints to 0 like the empty one") {
    // r14 review: size(NULL) is NULL under ANSI, so the empty guard
    // fell through and the fold over NULL returned NULL — the exact
    // silent join-drop the guard's own comment warns about
    val out = Seq((1L, null: Seq[String]), (2L, Seq("a")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), TextOps.docFingerprint(col("toks")).as("fp"))
      .as[(Long, java.lang.Long)].collect().toMap
    assert(out(1L) === 0L, "contentless is contentless: NULL ≡ empty here")
    assert((out(2L): Any) != null)
  }

  test("qualitySignals: null text is too_short, never ok") {
    // r14 review: n_tokens is NULL for null text, both threshold
    // whens evaluated NULL, and the contentless doc fell through to
    // 'ok' — passing the very filter that exists to drop it. Counts
    // stay NULL (the q90 rule); only the flag pins it.
    val out = TextOps.qualitySignals(
        Seq((1L, null: String), (2L, "one two three four five six seven eight nine ten"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "quality_flag").as[(Long, String)].collect().toMap
    assert(out(1L) === "too_short")
    assert(out(2L) === "ok")
  }

  test("lshBands: a signature shorter than bands*rows fails loudly, not as fake zero buckets") {
    // r14 review: slice past the array end is empty and
    // aggregate(empty, 0L, …) = 0L — every doc would emit the tail
    // bands with band_sig=0, corpus-wide fake collision buckets.
    // Longer signatures stay legal: tail minhashes are unused by
    // design.
    val sigs = Seq((1L, Seq(1L, 2L, 3L, 4L))).toDF("doc_id", "sig")
    val e = intercept[Exception] {
      TextOps.lshBands(sigs, "doc_id", "sig", bands = 3, rows = 2).collect()
    }
    assert(e.getMessage.contains("shorter than bands*rows"), s"got $e")
    val ok = TextOps.lshBands(sigs, "doc_id", "sig", bands = 2, rows = 2)
      .collect()
    assert(ok.length === 2, "k >= bands*rows stays legal")
  }

  test("lshBands: a NULL signature is dropped, not raised with a null message") {
    // r15 ADVICE: size(NULL) is NULL, so the short-sig guard's when()
    // went NULL→otherwise and raised with a NULL-concat (null-message)
    // error. A null-sig doc (empty/null text) can share no bucket;
    // drop it. The non-null doc still bands normally alongside it.
    val sigs = Seq((1L, Option.empty[Seq[Long]]), (2L, Some(Seq(1L, 2L, 3L, 4L))))
      .toDF("doc_id", "sig")
    val out = TextOps.lshBands(sigs, "doc_id", "sig", bands = 2, rows = 2)
      .select("doc_id").as[Long].collect()
    assert(out.toSet === Set(2L), s"null-sig doc dropped, got ${out.toSeq}")
  }

  test("simhash64: identical text ⇒ equal; near-dup ⇒ small Hamming; unrelated ⇒ large") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = base + " extra"
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    val out = docs(1L -> base, 2L -> base, 3L -> near, 4L -> other)
      .select(col("doc_id"), TextOps.simhash64(TextOps.tokens(col("text"))).as("h"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(out(1L) === out(2L))
    assert(hamming(out(1L), out(3L)) <= 8,
      s"near-dup hamming ${hamming(out(1L), out(3L))}")
    assert(hamming(out(1L), out(4L)) >= 16,
      s"unrelated hamming ${hamming(out(1L), out(4L))}")
  }

  test("simhashSignatures ≡ simhash64 bit-for-bit, partition-independent") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val colForm = d.select(col("doc_id"),
      TextOps.simhash64(TextOps.tokens(col("text"))).as("h"))
      .as[(Long, Long)].collect().toMap
    def aggForm(parts: Int): Map[Long, Long] = TextOps.simhashSignatures(
      d.repartition(parts)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("_toks")),
      "doc_id", "_toks", "h")
      .as[(Long, Long)].collect().toMap
    assert(aggForm(1) === colForm)
    assert(aggForm(7) === colForm) // vote sums commute across partials
  }

  /** Exhaustive all-pairs Jaccard ≥ num/den ground truth with the
    * exact J per pair, computed in Spark (fine at test scale only).
    */
  private def groundTruthJ(sh: DataFrame, num: Int, den: Int): Map[(Long, Long), Double] = {
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("_sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("_sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("ni", size(array_intersect(col("_sh_a"), col("_sh_b"))))
      .withColumn("nu", size(col("_sh_a")) + size(col("_sh_b")) - col("ni"))
      .filter(col("nu") > 0 && col("ni") * den >= col("nu") * num)
      .select(col("id_a"), col("id_b"),
        (col("ni").cast("double") / col("nu")).as("j"))
      .as[(Long, Long, Double)].collect()
      .map { case (x, y, j) => (x, y) -> j }.toMap
  }

  private def groundTruth(sh: DataFrame, num: Int, den: Int): Set[(Long, Long)] =
    groundTruthJ(sh, num, den).keySet

  private def corpusWithNearDups: DataFrame = {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" graftdup")).as("text")))
  }

  test("planted-dup id offset cannot collide with fixture ids (guards every dedup oracle)") {
    // every dedup query and dev tool plants duplicates at +100000; a
    // fixture regeneration with larger ids would silently corrupt the
    // planted/organic distinction — fail loudly here instead
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val m = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
        .agg(max(col("doc_id"))).head().getLong(0)
      assert(m < 100000L, s"$sf max(doc_id)=$m collides with the dup offset")
    }
  }

  test("LSH banding pipeline: recall 1.0 vs exhaustive ground truth on the real corpus") {
    val corpus = corpusWithNearDups
    val sh = corpus.select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val sig = TextOps.minhashSignatures(
      corpus.select(col("doc_id"),
        TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("hs")),
      "doc_id", "hs", 32)
    val cands = TextOps.lshCandidates(
      TextOps.lshBands(sig, "doc_id", "sig", 16, 2), "doc_id",
      maxBucket = 64)
    val found = TextOps.jaccardVerify(cands, sh, "doc_id", "sh", 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val truthJ = groundTruthJ(sh, 4, 5)
    val truth = truthJ.keySet
    assert(truth.nonEmpty, "planted near-dups must be above threshold")
    assert(found === truth,
      s"missed=${(truth -- found).take(5)} extra=${(found -- truth).take(5)}")
    // the bitwise-gate safety budget: with b=16 bands of r=2, a true
    // pair at Jaccard J evades every band with prob (1-J²)^16 — the
    // worst pair in the corpus must still be overwhelmingly safe.
    // (Pairs BELOW the threshold are irrelevant: exact verify rejects
    // them whether or not banding surfaces them as candidates.)
    val worstMiss = truthJ.values.map(j => math.pow(1 - j * j, 16)).max
    assert(worstMiss < 1e-5,
      f"q29 gate at risk: worst per-pair band-miss probability $worstMiss%.2e")
  }

  test("lshCandidatesAgainst: delta probe finds its standing sources, never delta-delta pairs") {
    import spark.implicits._
    val standing = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val delta = standing.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" graftdelta")).as("text"))
    def bands(df: org.apache.spark.sql.DataFrame) = TextOps.lshBands(
      TextOps.minhashSignatures(
        df.select(col("doc_id"),
          TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("sh")),
        "doc_id", "sh", 32),
      "doc_id", "sig", 16, 2)
    val cands = TextOps.lshCandidatesAgainst(
      bands(delta), bands(standing), "doc_id", maxBucket = Int.MaxValue)
      .as[(Long, Long)].collect()
    // orientation: id_a always from the delta side, id_b standing
    assert(cands.nonEmpty)
    assert(cands.forall { case (a, b) => a >= 200000L && b < 200000L })
    // every delta doc's source must surface as a candidate (J >> band
    // threshold: one appended token on ≥10-token docs)
    val found = cands.map { case (a, b) => (a, b) }.toSet
    val expected = standing.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id")).as[Long].collect()
      .map(i => (i + 200000L, i)).toSet
    assert((expected -- found).isEmpty,
      s"missed sources: ${(expected -- found).take(5)}")
  }

  test("lshCandidatesAgainst: identical re-sent ids never self-pair; standing hot buckets respect the cap") {
    // idempotent re-send: doc 200 arrives in the delta under the SAME
    // id it has in the standing index — it must not be reported as a
    // near-duplicate of itself. And a boilerplate standing bucket
    // above the cap is dropped, exactly like the self-join variant.
    val standing = ((0L until 80L).map(i => (0, "HOT", i)) ++
      Seq((1, "AB", 200L))).toDF("band_idx", "band_sig", "doc_id")
    val delta = Seq((0, "HOT", 3L), (1, "AB", 200L), (1, "AB", 900L))
      .toDF("band_idx", "band_sig", "doc_id")
    val capped = TextOps.lshCandidatesAgainst(delta, standing, "doc_id",
      maxBucket = 64).as[(Long, Long)].collect().toSet
    // (3,3) self-pair suppressed; the HOT bucket dropped by the cap;
    // only the genuine delta-900 → standing-200 probe survives
    assert(capped === Set((900L, 200L)), s"got $capped")
    val uncapped = TextOps.lshCandidatesAgainst(delta, standing, "doc_id",
      maxBucket = Int.MaxValue).as[(Long, Long)].collect().toSet
    // uncapped: delta doc 3 pairs with all 80 HOT standing docs except
    // itself (79), plus 900→200; the (200,200) and (3,3) self-pairs
    // stay suppressed
    assert(uncapped.size === 79 + 1)
    assert(!uncapped.exists { case (a, b) => a == b })
  }

  test("lshCandidates: hot buckets above the cap are dropped, normal buckets kept") {
    // a boilerplate bucket with 80 docs (quadratic: 3160 pairs) plus a
    // genuine near-dup pair in its own bucket; the near-dup pair also
    // collides in a SECOND band — like real near-dups, which share
    // most bands — so the cap must not cost it.
    val hot = (0L until 80L).map(i => (0, "HOT", i))
    val pair = Seq((1, "AB", 200L), (1, "AB", 201L), (2, "CD", 200L), (2, "CD", 201L))
    val banded = (hot ++ pair).toDF("band_idx", "band_sig", "doc_id")
    val capped = TextOps.lshCandidates(banded, "doc_id", maxBucket = 64)
      .as[(Long, Long)].collect().toSet
    assert(capped === Set((200L, 201L)),
      s"cap must drop the 3160 hot-bucket pairs, keep the real pair: $capped")
    val uncapped = TextOps.lshCandidates(banded, "doc_id", maxBucket = 10000)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size === 80 * 79 / 2 + 1)
  }

  test("simhashBandedPairs: pigeonhole recall within maxHam, exact Hamming filter") {
    // bands=4 (16-bit slices), maxHam=3. h2 differs from h1 in 3 bits
    // of one band → found (other 3 bands collide), ham=3 exact.
    // h3 differs in 4 bits spread over ALL bands → no band collides.
    // h4 differs from h1 in 4 bits of ONE band → candidate via 3 equal
    // bands, but ham=4 > maxHam → filtered. (h2,h4) differ in 1 bit →
    // legitimately found at ham=1.
    val h1 = 0L
    val h2 = 7L                                      // bits 0,1,2
    val h3 = 1L | (1L << 16) | (1L << 32) | (1L << 48)
    val h4 = 15L                                     // bits 0..3
    val d = Seq((1L, h1), (2L, h2), (3L, h3), (4L, h4)).toDF("doc_id", "h")
    val out = TextOps.simhashBandedPairs(d, "doc_id", "h", 4, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(out === Set((1L, 2L, 3L), (2L, 4L, 1L)),
      s"expected (1,2)@ham3 and (2,4)@ham1 only: $out")
  }

  test("prefixFilterCandidates: complete at the threshold (⊇ ground-truth pairs)") {
    val sh = corpusWithNearDups.select(col("doc_id"),
      TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val cands = TextOps.prefixFilterCandidates(sh, "doc_id", "sh", 4, 5)
      .as[(Long, Long)].collect().toSet
    val truth = groundTruth(sh, 4, 5)
    assert(truth.subsetOf(cands),
      s"prefix filter lost true pairs: ${(truth -- cands).take(5)}")
    val verified = TextOps.jaccardVerify(
      TextOps.prefixFilterCandidates(sh, "doc_id", "sh", 4, 5),
      sh, "doc_id", "sh", 4, 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(verified === truth)
  }
}
