package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins graft.Scratch, the one owner of on-disk scratch: per-app
  * round-trip sinks used to be named-and-forgotten — 1,704 dead dirs
  * in one day of rounds. The per-app naming must stay byte-for-byte
  * (cross-session uniqueness and every committed path assumption ride
  * on it), every per-app path must be reclaimed at app end, and shared
  * content-keyed paths never. Sweep mechanics run under a FAKE app id
  * via the register seams: sweeping the shared test session's real
  * registry would delete sinks other suites' returned frames still
  * read lazily.
  */
class ScratchSpec extends SparkSpec {

  test("app keeps the legacy tmpdir/graft_<name>_<appId> naming and " +
       "records per app; bad names fail fast") {
    val appId = spark.sparkContext.applicationId
    val p = Scratch.app(spark, "spec_sink")
    assert(p ===
      s"${System.getProperty("java.io.tmpdir")}/graft_spec_sink_$appId")
    // idempotent: same (app, name) → same path, recorded once
    assert(Scratch.app(spark, "spec_sink") === p)
    assert(Scratch.recorded(appId).contains(p))
    // a separator-bearing name would escape tmpdir
    intercept[IllegalArgumentException] {
      Scratch.app(spark, "../escape")
    }
    intercept[IllegalArgumentException] { Scratch.app(spark, "") }
  }

  test("sweep removes every recorded tree and forgets the app; " +
       "unrecorded (content-keyed) siblings survive") {
    val fakeApp = "spec-fake-app-0001"
    val a = Scratch.register(fakeApp, "spec_sweep_a")
    val b = Scratch.register(fakeApp, "spec_sweep_b")
    assert(a.endsWith(s"graft_spec_sweep_a_$fakeApp"),
      "register and app share one naming rule")
    for (p <- Seq(a, b)) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "gen=1"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, "gen=1", "part-0"), Array[Byte](1))
    }
    // a content-keyed artifact next door, NOT via the registry
    val keyed = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_spec_v9_deadbeef")
    java.nio.file.Files.createDirectories(keyed)
    try {
      assert(Scratch.recorded(fakeApp) === Set(a, b))
      Scratch.sweep(fakeApp)
      assert(!new java.io.File(a).exists() && !new java.io.File(b).exists(),
        "recorded trees reclaimed recursively")
      assert(Scratch.recorded(fakeApp).isEmpty, "registration forgotten")
      assert(java.nio.file.Files.exists(keyed),
        "unrecorded cross-session artifacts are never swept")
      // sweep is idempotent on a forgotten app
      Scratch.sweep(fakeApp)
    } finally {
      graft.ops.FsOps.rmTree(keyed.toFile)
    }
  }

  test("listener install is decided by its own flag, never by the path " +
       "map (r15 ADVICE): register() first cannot suppress it") {
    // the old coupling: install piggybacked on byApp.computeIfAbsent,
    // so a register() under an app id BEFORE the first app() call
    // populated the map and the listener silently never installed —
    // that app's recorded sinks leaked again.
    val fake = "spec-fake-listener-app"
    Scratch.register(fake, "spec_pre_install")   // byApp populated first
    assert(Scratch.installFor(spark.sparkContext, fake),
      "install proceeds even though byApp already has the app")
    assert(!Scratch.installFor(spark.sparkContext, fake),
      "second call is a no-op: exactly one listener per app")
    Scratch.sweep(fake) // forget the registration; listener no-ops at end
  }

  test("call hands out a distinct recorded path per call") {
    val appId = spark.sparkContext.applicationId
    val a = Scratch.call(spark, "spec_call")
    val b = Scratch.call(spark, "spec_call")
    assert(a !== b, "a re-run must not see an earlier run's path")
    for (p <- Seq(a, b)) {
      assert(p.startsWith(s"${Scratch.root}/graft_spec_call_") && p.endsWith(s"_$appId"))
      assert(Scratch.recorded(appId).contains(p))
    }
  }

  test("database's warehouse dir, managed tables included, is removed by sweep") {
    val fake = "spec-fake-db-app"
    val db = Scratch.databaseFor(spark, fake)
    assert(db === "g_spec_fake_db_app")
    try {
      spark.range(3).write.saveAsTable(s"$db.t")
      val dbDir = Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), s"$db.db")
      assert(Scratch.recorded(fake) === Set(dbDir.toString))
      assert(Files.exists(dbDir.resolve("t")), "the managed table lives under the db dir")
      Scratch.sweep(fake)
      assert(!Files.exists(dbDir), "the app's database dir is reclaimed")
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE"): Unit
  }

  test("shared paths are never recorded; tracked paths are") {
    val appId = spark.sparkContext.applicationId
    val before = Scratch.recorded(appId)
    val keyed = Scratch.shared("spec_v9_deadbeef")
    assert(keyed === s"${Scratch.root}/graft_spec_v9_deadbeef")
    assert(Scratch.recorded(appId) === before)
    intercept[IllegalArgumentException](Scratch.shared("../escape"))
    val other = s"${Scratch.root}/spec_tracked_elsewhere"
    Scratch.track(spark, other)
    assert(Scratch.recorded(appId) === before + other)
  }

  test("no file under src/main but Scratch.scala names the tmp root or " +
       "reclaims outside the app-end sweep") {
    val needles = Seq("java.io" + ".tmpdir", "addShutdown" + "Hook",
      "createTemp" + "Directory", "deleteOn" + "Exit")
    val offenders = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Scratch.scala")
      .flatMap(p => needles.filter(Files.readString(p).contains(_)).map(n => s"$p: $n"))
      .toList
    assert(offenders.isEmpty, s"name scratch paths through graft.Scratch: $offenders")
  }
}
