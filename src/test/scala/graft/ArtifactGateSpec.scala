package graft

import java.nio.file.{Files, Paths}

/** The persisted-ingest-artifact contract shared by q35 (IVF
  * centroids) and q56/q89 (near-dup pairs/components): content-keyed
  * path, _SUCCESS-gated. Two failure modes worth pinning:
  *   - crash-partial-write: a prior run died after creating the
  *     artifact dir but before committing — the bare-directory check
  *     would serve the partial data; the _SUCCESS gate must force a
  *     rebuild instead (ADVICE round 4's original finding, now pinned
  *     for the component artifact too);
  *   - stale-read: a committed artifact must be READ on re-invocation,
  *     not rebuilt — the whole point of keying by dataset content.
  */
class ArtifactGateSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
  }

  test("component artifact: _SUCCESS-gated rebuild after a crashed write, pure read after a committed one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_art_").toString
    try {
      // unique token per doc keeps cross-doc Jaccard ~0.56 (< 0.8), so
      // the only pairs are the planted " graftdup" copies (J = 7/8)
      val docs = (0L to 9L)
        .map(i => (i, s"alpha bravo charlie delta echo foxtrot golf token$i end"))
        .toDF("doc_id", "text")
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val fp = Fixtures.tableFingerprint(dir, "documents")
      assert(fp.matches("[0-9a-f]{8}"),
        "directory-shaped spec fixtures must fingerprint by content, " +
          s"not collapse to '$fp' (colliding artifact cache keys)")
      val cpath = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_comps_v3_$fp") // v3: r16 dup-id collapse in pair semantics
      // simulate the crash: artifact dir exists with junk, no _SUCCESS
      rm(cpath.toFile)
      Files.createDirectories(cpath)
      Files.write(cpath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      val out = SparkEntry.queries("q56_neardup_components")(spark, dir)
        .collect()
      assert(out.length === 20, // 10 planted pairs × both members
        s"rebuild must ignore the junk and recompute, got ${out.length} rows")
      assert(Files.exists(cpath.resolve("_SUCCESS")),
        "the rebuild must commit the marker")
      // re-invocation on the committed artifact: read, don't rebuild
      val mt = Files.getLastModifiedTime(cpath.resolve("_SUCCESS"))
      val again = SparkEntry.queries("q56_neardup_components")(spark, dir)
        .collect()
      assert(again.length === 20)
      assert(Files.getLastModifiedTime(cpath.resolve("_SUCCESS")) === mt,
        "a committed artifact must be served by read, not rebuilt")
      rm(cpath.toFile) // leave no content-keyed residue for other runs
      rm(Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_pairs_v3_$fp").toFile)
    } finally rm(new java.io.File(dir))
  }

  test("q99 partitioned-layout artifact: _SUCCESS-gated rebuild over junk, pure read once committed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_art99_").toString
    try {
      val q2 = java.sql.Timestamp.valueOf("1995-05-15 00:00:00")
      val q3 = java.sql.Timestamp.valueOf("1995-07-01 00:00:00")
      Seq((1L, 10.0, q2), (2L, 20.0, q2), (3L, 30.0, q3))
        .toDF("o_orderkey", "o_totalprice", "o_orderdate")
        .coalesce(1).write.parquet(s"$dir/orders.parquet")
      val fp = Fixtures.tableFingerprint(dir, "orders")
      val sink = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_q99_dpp_v2_$fp")
      rm(sink.toFile)
      Files.createDirectories(sink)
      Files.write(sink.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
      val out = SparkEntry.queries("q99_dpp_prune")(spark, dir).collect()
      // only 1995-05 falls in 1995-Q2 → one group of the two Q2 orders
      assert(out.length === 1, s"expected the single Q2 month, got ${out.toSeq}")
      assert(out.head.getAs[Long]("n_orders") === 2L)
      assert(Files.exists(sink.resolve("_SUCCESS")),
        "the rebuild must commit the marker")
      val mt = Files.getLastModifiedTime(sink.resolve("_SUCCESS"))
      val again = SparkEntry.queries("q99_dpp_prune")(spark, dir).collect()
      assert(again.length === 1)
      assert(Files.getLastModifiedTime(sink.resolve("_SUCCESS")) === mt,
        "a committed layout must be served by read, not re-laid-out")
      val db = Scratch.database(spark)
      val tbl = s"$db.orders_pm_$fp"
      // half-registered state: a crash between CREATE TABLE and
      // RECOVER PARTITIONS leaves a table that knows no partitions —
      // a read would be silently EMPTY; the gate must self-heal it
      spark.sql(s"DROP TABLE $tbl")
      spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$sink'")
      assert(spark.sql(s"SHOW PARTITIONS $tbl").isEmpty)
      val healed = SparkEntry.queries("q99_dpp_prune")(spark, dir).collect()
      assert(healed.length === 1 && healed.head.getAs[Long]("n_orders") === 2L,
        "a half-registered table must be recovered, not served empty")
      // dangling catalog entry: the table stands but its tmpdir files
      // were cleaned (systemd-tmpfiles under a long-lived session) —
      // the steady state must re-gate on _SUCCESS every call, DROP
      // the dangling entry, and rebuild, not fail every later read
      // (r11 ADVICE item)
      rm(sink.toFile)
      assert(spark.catalog.tableExists(tbl), "precondition: entry dangles")
      val rebuilt = SparkEntry.queries("q99_dpp_prune")(spark, dir).collect()
      assert(rebuilt.length === 1 && rebuilt.head.getAs[Long]("n_orders") === 2L,
        "a dangling catalog entry over vanished files must self-heal by rebuild")
      assert(Files.exists(sink.resolve("_SUCCESS")),
        "the self-heal must have re-laid-out and re-committed the artifact")
      // drop the catalog registration WITH the files: a dangling table
      // entry would shadow a future same-content rebuild in this JVM
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      rm(sink.toFile)
    } finally rm(new java.io.File(dir))
  }

  test("q45 bucketed tables: built once per fixture content, re-invocation reads the standing layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_art45_").toString
    try {
      Seq((1L, 10.0), (2L, 20.0), (1L, 5.0))
        .toDF("o_custkey", "o_totalprice")
        .coalesce(1).write.parquet(s"$dir/orders.parquet")
      Seq((1L, "BUILDING"), (2L, "MACHINERY"))
        .toDF("c_custkey", "c_mktsegment")
        .coalesce(1).write.parquet(s"$dir/customer.parquet")
      val out = SparkEntry.queries("q45_bucketed_join")(spark, dir).collect()
      assert(out.length === 2, s"two segments expected, got ${out.toSeq}")
      // the bucketed files on disk are the artifact: a second
      // invocation must serve the join from them, not re-bucket
      val db = Scratch.database(spark)
      val key = Fixtures.tableFingerprint(dir, "orders") + "_" +
        Fixtures.tableFingerprint(dir, "customer")
      val files = spark.table(s"$db.orders_b_$key").inputFiles
      assert(files.nonEmpty)
      val f = Paths.get(new java.net.URI(files.head))
      val mt = Files.getLastModifiedTime(f)
      val again = SparkEntry.queries("q45_bucketed_join")(spark, dir).collect()
      assert(again.length === 2)
      assert(Files.getLastModifiedTime(f) === mt,
        "a standing bucketed layout must be read, not rewritten")
      spark.sql(s"DROP TABLE $db.orders_b_$key")
      spark.sql(s"DROP TABLE $db.customer_b_$key"): Unit
    } finally rm(new java.io.File(dir))
  }

  test("q93 standing-index artifact: a crash between the two sub-writes forces a full rebuild") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_art93_").toString
    try {
      val docs = (0L to 9L)
        .map(i => (i, s"alpha bravo charlie delta echo foxtrot golf token$i end"))
        .toDF("doc_id", "text")
      docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val fp = Fixtures.tableFingerprint(dir, "documents")
      val base = Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_q93_idx_v1_$fp")
      // simulate a crash AFTER the shingle write committed but BEFORE
      // the band write: shingles carry a genuine _SUCCESS, bands are
      // absent — the gate must treat the index as unbuilt (both parts
      // or neither), not serve a half-index
      rm(base.toFile)
      import org.apache.spark.sql.functions.col
      val shS = Tables.documents(spark, dir).select(col("doc_id"),
        graft.ops.TextOps.ngramHashes64(graft.ops.TextOps.tokens(col("text")), 3).as("sh"))
      shS.write.parquet(s"$base/shingles")
      assert(Files.exists(base.resolve("shingles/_SUCCESS")))
      assert(!Files.exists(base.resolve("bands/_SUCCESS")))
      val out = SparkEntry.queries("q93_incremental_neardup")(spark, dir)
        .collect()
      // every 10th doc (doc 0) planted as a " graftdelta" append →
      // exactly one verified near-dup pair
      assert(out.length === 1, s"expected the planted delta pair, got ${out.toSeq}")
      assert(Files.exists(base.resolve("bands/_SUCCESS")),
        "the rebuild must commit the band half too")
      // committed index: re-invocation reads, never rebuilds
      val mtS = Files.getLastModifiedTime(base.resolve("shingles/_SUCCESS"))
      val mtB = Files.getLastModifiedTime(base.resolve("bands/_SUCCESS"))
      val again = SparkEntry.queries("q93_incremental_neardup")(spark, dir)
        .collect()
      assert(again.length === 1)
      assert(Files.getLastModifiedTime(base.resolve("shingles/_SUCCESS")) === mtS &&
        Files.getLastModifiedTime(base.resolve("bands/_SUCCESS")) === mtB,
        "a committed index must be served by read, not rebuilt")
      rm(base.toFile)
    } finally rm(new java.io.File(dir))
  }

  test("StagedArtifact: markerless-residue eviction is rename-aside and leaves zero sibling residue") {
    // r13 (r12 ADVICE): the no-marker branch used to rm() the residue
    // IN PLACE — a long multi-file delete window during which a
    // concurrently-installed complete artifact could be half-torn-down
    // under readers that had passed the _SUCCESS gate. Now residue is
    // moved aside with ONE atomic rename to a .trash.<uuid> path and
    // deleted out-of-path. Pinned here: the replacement commits, and
    // the parent dir carries NO .trash/.stage residue afterwards (the
    // trash cleanup is part of the contract — content-keyed parents
    // accumulate forever otherwise).
    val parent = Files.createTempDirectory("graft_staged_")
    try {
      val path = parent.resolve("artifact").toString
      // markerless residue from a "crashed" old-style writer
      Files.createDirectories(Paths.get(path))
      Files.write(Paths.get(path, "part-junk.bin"), Array[Byte](9, 9))
      graft.ops.StagedArtifact.writeOnce(path) { stage =>
        Files.createDirectories(Paths.get(stage))
        Files.write(Paths.get(stage, "part-0"), Array[Byte](1))
        Files.write(Paths.get(stage, "_SUCCESS"), Array.empty[Byte])
      }
      assert(graft.ops.StagedArtifact.committed(path),
        "the staged build must replace markerless residue and commit")
      assert(!Files.exists(Paths.get(path, "part-junk.bin")),
        "residue content must not survive under the installed artifact")
      val leftovers = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filterNot(_ == "artifact")
      assert(leftovers.isEmpty,
        s"eviction must clean its trash/stage siblings, found: ${leftovers.toSeq}")
      // committed artifact: writeOnce is a pure no-op
      val mt = Files.getLastModifiedTime(Paths.get(path, "_SUCCESS"))
      graft.ops.StagedArtifact.writeOnce(path) { _ =>
        fail("writeOnce must not rebuild over a committed artifact")
      }
      assert(Files.getLastModifiedTime(Paths.get(path, "_SUCCESS")) === mt)
    } finally rm(parent.toFile)
  }

  test("StagedArtifact: N concurrent builders — exactly one coherent install, readers never see a torn artifact") {
    // The class's central claim ("two JVMs can decide to build the
    // same key concurrently … exactly one install wins") has so far
    // been argued from rename atomicity, not exercised. Hammer it with
    // real threads: every builder writes its own builder-id into every
    // file of its stage, so a TORN install (files from two builders
    // under one _SUCCESS) is detectable by content. A reader thread
    // polls throughout: whenever the _SUCCESS gate is up, the whole
    // 3-file set must be present and single-sourced — the exact
    // invariant q35/q56/q89/q93's readers rely on.
    val parent = Files.createTempDirectory("graft_staged_race_")
    try {
      for (round <- 1 to 5) {
        // rounds 4-5 seed a crashed markerless residue first, racing
        // the builders through the eviction branch too. In THAT branch
        // the documented worst case is the two back-to-back renames:
        // a transient-absence window, and whole-artifact SWAPS (builder
        // B can evict builder A's just-committed artifact and install
        // its own — benign in production where content-keyed stages are
        // byte-identical). Because this test deliberately writes
        // DISTINCT builder bytes, a reader straddling a swap can read
        // part-0 from A and part-1 from B: three non-atomic reads
        // cannot distinguish that from a genuine tear (r14 review). So
        // mid-race in seeded rounds BOTH absence and mixes are
        // tolerated; the settled read below is strict in every mode,
        // and rounds 1-3 (no eviction branch) stay strict throughout.
        val residueSeeded = round >= 4
        val path = parent.resolve(s"artifact_$round").toString
        if (residueSeeded) {
          Files.createDirectories(Paths.get(path))
          Files.write(Paths.get(path, "part-junk.bin"), Array[Byte](9))
        }
        val n = 8
        val start = new java.util.concurrent.CountDownLatch(1)
        val torn = new java.util.concurrent.atomic.AtomicReference[String](null)
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        def readOnce(midRaceSeeded: Boolean): Unit =
          if (graft.ops.StagedArtifact.committed(path)) {
            val names = Seq("part-0", "part-1", "meta")
            val bodies =
              try names.map { f =>
                val p = Paths.get(path, f)
                if (Files.exists(p)) new String(Files.readAllBytes(p), "UTF-8")
                else null
              }
              catch { case _: java.io.IOException => List(null, null, null) }
            val mixed = bodies.filter(_ != null).distinct.size > 1
            val absent = bodies.contains(null)
            if ((mixed || absent) && !midRaceSeeded)
              torn.compareAndSet(null,
                s"committed artifact incoherent (round $round): ${names.zip(bodies)}")
          }
        val reader = new Thread(() =>
          while (!stop.get()) { readOnce(residueSeeded); Thread.onSpinWait() })
        reader.start()
        val builders = (0 until n).map { i =>
          new Thread(() => {
            start.await()
            graft.ops.StagedArtifact.writeOnce(path) { stage =>
              Files.createDirectories(Paths.get(stage))
              for (f <- Seq("part-0", "part-1", "meta"))
                Files.write(Paths.get(stage, f), s"builder-$i".getBytes("UTF-8"))
              Files.write(Paths.get(stage, "_SUCCESS"), Array.empty[Byte])
            }
          })
        }
        builders.foreach(_.start()); start.countDown()
        builders.foreach(_.join(30000)); stop.set(true); reader.join(5000)
        assert(torn.get() == null, String.valueOf(torn.get()))
        assert(graft.ops.StagedArtifact.committed(path))
        // settled artifact: strict in every mode — absence and swap
        // windows end with the last builder, and residue must be gone
        readOnce(midRaceSeeded = false)
        assert(torn.get() == null, String.valueOf(torn.get()))
        assert(!Files.exists(Paths.get(path, "part-junk.bin")),
          "markerless residue must not survive the race")
        val leftovers = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
          .map(_.getName)
          .filter(nm => nm.contains(".stage.") || nm.contains(".trash."))
        assert(leftovers.isEmpty,
          s"losing builders must clean up after themselves: ${leftovers.toSeq}")
      }
    } finally rm(parent.toFile)
  }

  test("StagedArtifact: a FAILED residue eviction is loud, not a silent no-install") {
    // r14 (r13 ADVICE): the eviction move used to swallow EVERY
    // IOException as "residue already gone"; on a genuine failure
    // (permissions, non-atomic filesystem) the residue still stood,
    // the install rename then failed too, the stage was silently
    // deleted, and writeOnce returned with NO committed artifact and
    // NO error — every reader behind the _SUCCESS gate then rebuilt
    // forever. Pinned via the injectable move seam (the suite runs as
    // root, so a chmod-based fault is a no-op): a non-NoSuchFile
    // IOException on the eviction rename must surface as an exception,
    // leave the residue in place, and clean this builder's stage.
    val parent = Files.createTempDirectory("graft_staged_fail_")
    try {
      val path = parent.resolve("artifact").toString
      Files.createDirectories(Paths.get(path))
      Files.write(Paths.get(path, "part-junk.bin"), Array[Byte](9))
      val stage = s"$path.stage.test"
      Files.createDirectories(Paths.get(stage))
      Files.write(Paths.get(stage, "_SUCCESS"), Array.empty[Byte])
      val denyEviction: (java.nio.file.Path, java.nio.file.Path) => Unit =
        (a, b) =>
          if (b.toString.contains(".trash."))
            throw new java.nio.file.AccessDeniedException(a.toString)
          else graft.ops.StagedArtifact.atomicMove(a, b)
      val e = intercept[java.io.IOException] {
        graft.ops.StagedArtifact.install(stage, path, denyEviction)
      }
      assert(e.getMessage.contains("NOT installed"))
      assert(!graft.ops.StagedArtifact.committed(path),
        "a failed install must not look committed")
      assert(Files.exists(Paths.get(path, "part-junk.bin")),
        "the unevictable residue stays (the failure is the caller's to see)")
      assert(!Files.exists(Paths.get(stage)),
        "the dead stage must be reclaimed before throwing " +
          "(sweepTrash never touches .stage.* siblings)")
    } finally rm(parent.toFile)
  }

  test("StagedArtifact: a persistently FAILING install rename is loud when nothing got committed") {
    // r14 review: the r13 fix made only the EVICTION rename loud; the
    // install rename itself (first attempt and retry) still swallowed
    // every IOException. On a filesystem where ATOMIC_MOVE is
    // unsupported (the very mode the eviction handler enumerates) the
    // sequence was: first rename swallowed → no residue, so the
    // eviction rename's NoSuchFileException took the benign branch →
    // retry rename swallowed → stage silently deleted, install()
    // returned normally, committed()==false, and every reader behind
    // the gate rebuilt forever with no error. Pinned: with no
    // concurrent winner, a failed retry must throw.
    val parent = Files.createTempDirectory("graft_staged_nomove_")
    try {
      val path = parent.resolve("artifact").toString
      val stage = s"$path.stage.test"
      Files.createDirectories(Paths.get(stage))
      Files.write(Paths.get(stage, "part-0"), Array[Byte](1))
      Files.write(Paths.get(stage, "_SUCCESS"), Array.empty[Byte])
      val noAtomicMove: (java.nio.file.Path, java.nio.file.Path) => Unit =
        (a, b) =>
          if (b.toString.endsWith("artifact"))
            throw new java.nio.file.AtomicMoveNotSupportedException(
              a.toString, b.toString, "injected")
          else graft.ops.StagedArtifact.atomicMove(a, b)
      val e = intercept[java.io.IOException] {
        graft.ops.StagedArtifact.install(stage, path, noAtomicMove)
      }
      assert(e.getMessage.contains("NOT installed"))
      assert(!graft.ops.StagedArtifact.committed(path),
        "a failed install must not look committed")
      assert(!Files.exists(Paths.get(stage)),
        "the dead stage must be reclaimed before throwing")
      val leftovers = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filterNot(_ == "artifact")
      assert(leftovers.isEmpty, s"no residue siblings: ${leftovers.toSeq}")
    } finally rm(parent.toFile)
  }

  test("StagedArtifact: a failed retry rename stays QUIET when a concurrent builder committed") {
    // the counterpart to the loud case: the retry rename fails because
    // another builder installed a complete artifact in the eviction
    // window — this builder's work is redundant, not broken; install()
    // must reclaim its stage and return without throwing
    val parent = Files.createTempDirectory("graft_staged_lost_")
    try {
      val path = parent.resolve("artifact").toString
      Files.createDirectories(Paths.get(path))
      Files.write(Paths.get(path, "part-junk.bin"), Array[Byte](9))
      val stage = s"$path.stage.test"
      Files.createDirectories(Paths.get(stage))
      Files.write(Paths.get(stage, "part-0"), Array[Byte](1))
      Files.write(Paths.get(stage, "_SUCCESS"), Array.empty[Byte])
      // the eviction rename really evicts, then a "concurrent" builder
      // claims the freed slot before this builder's retry rename
      val loseTheSlot: (java.nio.file.Path, java.nio.file.Path) => Unit =
        (a, b) => {
          graft.ops.StagedArtifact.atomicMove(a, b)
          if (b.toString.contains(".trash.")) {
            Files.createDirectories(Paths.get(path))
            Files.write(Paths.get(path, "part-0"), "winner".getBytes("UTF-8"))
            Files.write(Paths.get(path, "_SUCCESS"), Array.empty[Byte])
          }
        }
      graft.ops.StagedArtifact.install(stage, path, loseTheSlot)
      assert(graft.ops.StagedArtifact.committed(path))
      assert(new String(Files.readAllBytes(Paths.get(path, "part-0")),
        "UTF-8") === "winner", "the concurrent winner's artifact stands")
      assert(!Files.exists(Paths.get(stage)),
        "the losing stage must be reclaimed")
      val leftovers = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filterNot(_ == "artifact")
      assert(leftovers.isEmpty, s"no residue siblings: ${leftovers.toSeq}")
    } finally rm(parent.toFile)
  }

  test("StagedArtifact: residue vanishing mid-eviction (concurrent builder) still installs") {
    // the one BENIGN eviction outcome — another builder evicted the
    // residue between this builder's first rename attempt and its
    // eviction rename (NoSuchFileException) — must keep the old
    // behavior: retry the install rename and commit
    val parent = Files.createTempDirectory("graft_staged_gone_")
    try {
      val path = parent.resolve("artifact").toString
      Files.createDirectories(Paths.get(path))
      Files.write(Paths.get(path, "part-junk.bin"), Array[Byte](9))
      val stage = s"$path.stage.test"
      Files.createDirectories(Paths.get(stage))
      Files.write(Paths.get(stage, "part-0"), Array[Byte](1))
      Files.write(Paths.get(stage, "_SUCCESS"), Array.empty[Byte])
      val vanishOnEviction: (java.nio.file.Path, java.nio.file.Path) => Unit =
        (a, b) =>
          if (b.toString.contains(".trash.")) {
            rm(a.toFile) // the "concurrent" builder already took it
            throw new java.nio.file.NoSuchFileException(a.toString)
          } else graft.ops.StagedArtifact.atomicMove(a, b)
      graft.ops.StagedArtifact.install(stage, path, vanishOnEviction)
      assert(graft.ops.StagedArtifact.committed(path),
        "with the residue gone, the install must proceed and commit")
      assert(!Files.exists(Paths.get(path, "part-junk.bin")))
      val leftovers = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filterNot(_ == "artifact")
      assert(leftovers.isEmpty, s"no residue siblings: ${leftovers.toSeq}")
    } finally rm(parent.toFile)
  }
  test("StagedArtifact: a markerless STAGE is refused loudly before install (r17 pass 13)") {
    // writeOnce's contract says the builder must produce a
    // `_SUCCESS`-marked stage. Unenforced, a non-Spark writer (or a
    // Spark write with the marker disabled) installed an artifact
    // that committed() never admits — every future session rebuilds
    // and evict-swaps it, SILENTLY, forever: the exact
    // silent-vs-loud shape this suite exists to close. The refusal
    // must also reclaim the dead stage (sweepTrash never touches
    // `.stage.*`).
    val parent = Files.createTempDirectory("graft_staged_nomark_")
    try {
      val path = parent.resolve("artifact").toString
      val e = intercept[IllegalStateException] {
        graft.ops.StagedArtifact.writeOnce(path) { stage =>
          Files.createDirectories(Paths.get(stage))
          Files.write(Paths.get(stage, "part-0"), Array[Byte](1))
          // no _SUCCESS
        }
      }
      assert(e.getMessage.contains("no _SUCCESS"))
      assert(!graft.ops.StagedArtifact.committed(path))
      assert(!Files.exists(Paths.get(path)),
        "nothing may be installed at the target path")
      val leftovers = Option(parent.toFile.listFiles()).getOrElse(Array.empty)
        .map(_.getName)
      assert(leftovers.isEmpty,
        s"the dead stage must be reclaimed, found: ${leftovers.toSeq}")
    } finally rm(parent.toFile)
  }
}
