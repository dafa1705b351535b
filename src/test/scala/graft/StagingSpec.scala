package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Staging

/** The staging layer's cross-process contract (round-14 verdict task
  * 6): two PROCESSES racing the same stage key must both end up
  * reading one complete committed artifact — no half-built stage ever
  * served, no deadlock, no divergent bytes. The race is real: two
  * forked JVMs drive [[Staging.ensureConf]] on one fresh key with a
  * deliberate mid-build delay so their build windows overlap. */
class StagingSpec extends AnyFunSuite with SparkTestSession.TempDirs {

  private def fork(out: String, nonce: String): Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    new ProcessBuilder(java, "-cp", sys.props("java.class.path"),
        "-Dgraft.staging.lock.stale.ms=600000",
        "graft.StagingRaceProbe", out, nonce)
      .redirectErrorStream(true)
      .start()
  }

  private def drain(p: Process): String = {
    val bytes = p.getInputStream.readAllBytes()
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  test("two processes racing one stage key both read one complete artifact") {
    val out = tempDir("staging-race").resolve("stage_x")
      .toString
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val a = fork(out, nonce)
    val b = fork(out, nonce)
    val (outA, outB) = (drain(a), drain(b))
    assert(a.waitFor() == 0, s"probe A failed:\n$outA")
    assert(b.waitFor() == 0, s"probe B failed:\n$outB")
    val read = Seq(outA, outB).map(o =>
      o.linesIterator.find(_.startsWith("READ:"))
        .getOrElse(fail(s"probe printed no READ line:\n$o")))
    assert(read.toSet == Set(s"READ:payload-$nonce"),
      s"divergent reads: $read")
    // one committed stage, marker present, no lock left behind
    assert(Files.exists(Paths.get(out, "_SUCCESS")))
    assert(Files.readString(Paths.get(out, "component.txt")) ==
      s"payload-$nonce")
    assert(!Files.exists(Paths.get(s"$out.lock")), "lock file leaked")
    // no stray temp roots left in the parent dir
    val parent = Paths.get(out).getParent
    val strays = Files.list(parent).iterator()
    val names = scala.collection.mutable.ArrayBuffer[String]()
    while (strays.hasNext) names += strays.next().getFileName.toString
    assert(names.forall(n => n == "stage_x"),
      s"stray staging residue: $names")
  }

  test("a crashed holder's stale lock is taken over, not waited on forever") {
    val out = tempDir("staging-stale").resolve("stage_y")
      .toString
    // plant a lock file that no process owns, with an old mtime
    Files.createDirectories(Paths.get(out).getParent)
    val lock = Paths.get(s"$out.lock")
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600_000L))
    val conf = new org.apache.hadoop.conf.Configuration()
    val t0 = System.nanoTime()
    Staging.ensureConf(conf, out) { tmp =>
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "component.txt"), "v")
    }
    assert((System.nanoTime() - t0) / 1e9 < 60, "stale lock blocked the build")
    assert(Files.readString(Paths.get(out, "component.txt")) == "v")
    assert(!Files.exists(lock), "stale lock not cleaned up")
  }

  test("a live build LONGER than the stale bound keeps its lock via the " +
      "heartbeat — a waiter never steals it, builds never overlap") {
    val out = tempDir("staging-hb").resolve("stage_hb")
      .toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val prev = sys.props.get("graft.staging.lock.stale.ms")
    sys.props("graft.staging.lock.stale.ms") = "2000"
    try {
      val inBody = new java.util.concurrent.atomic.AtomicInteger(0)
      val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
      def hold(ms: Long): Unit =
        Staging.withProcessLock(fs, out) {
          if (inBody.incrementAndGet() > 1) overlapped.set(true)
          Thread.sleep(ms)
          inBody.decrementAndGet()
        }
      // holder runs 5 s — 2.5× the stale bound; without the heartbeat
      // the competitor would declare it stale at 2 s and enter
      val holder = new Thread(() => hold(5000L))
      holder.start()
      Thread.sleep(300L) // let the holder acquire first
      hold(50L)          // competitor: must WAIT ~4.7 s, not steal
      holder.join()
      assert(!overlapped.get(),
        "a waiter stole a heartbeat-kept live lock — bodies overlapped")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.staging.lock.stale.ms") = v
        case None => sys.props -= "graft.staging.lock.stale.ms"
      }
    }
  }

  test("release verifies ownership: a holder never deletes a lock that " +
      "was taken over by someone else") {
    val out = tempDir("staging-own").resolve("stage_own")
      .toString
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(conf)
    val lock = Paths.get(s"$out.lock")
    Staging.withProcessLock(fs, out) {
      // simulate a takeover mid-build: the lock is replaced by a
      // foreign holder's token
      Files.delete(lock)
      Files.writeString(lock, "foreign-holder-token")
    }
    // the original holder's release must NOT have deleted the foreign
    // lock (the r15-advice delete cascade)
    assert(Files.exists(lock), "release deleted a lock it no longer owned")
    assert(Files.readString(lock) == "foreign-holder-token")
    Files.delete(lock)
  }

  private lazy val spark = SparkTestSession.spark

  /** A one-file input table under a fresh temp directory. */
  private def table(content: String): java.nio.file.Path = {
    val dir = tempDir("staging-key").resolve("t.parquet")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-0"), content)
    dir
  }

  test("a stage root is target/<family>/graft_<artifact>_<8 hex>") {
    val in = table("a").toString
    val root = Staging.root(spark, Staging.Key("ann/ivf", Seq(in), 256, 3))
    assert(root.matches("target/ann/graft_ivf_[0-9a-f]{8}"), root)
    intercept[IllegalArgumentException](Staging.Key("ivf", Seq(in)))
  }

  test("the same inputs and parameters give the same root") {
    val in = table("a").toString
    def root() = Staging.root(spark, Staging.Key("ann/ivf", Seq(in), 256, 3))
    assert(root() === root())
  }

  test("a changed parameter or rewritten input content gives a new root") {
    val in = table("a")
    def root(centroids: Int) =
      Staging.root(spark, Staging.Key("ann/ivf", Seq(in.toString), centroids, 3))
    val before = root(256)
    assert(root(64) !== before)
    // rewrite the input under the same path: new length and mtime
    val part = in.resolve("part-0")
    Files.writeString(part, "bb")
    Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis + 5000L))
    assert(root(256) !== before)
  }

  test("stage commits under the root and a second call rebuilds nothing") {
    val in = table(java.util.UUID.randomUUID().toString).toString
    val key = Staging.Key("staging_spec/probe", Seq(in))
    var builds = 0
    def once() = Staging.stage(spark, key) { tmp =>
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "component.txt"), "s")
    }
    val out = once()
    try {
      assert(out === Staging.root(spark, key))
      assert(Files.exists(Paths.get(out, "_SUCCESS")))
      assert(once() === out)
      assert(builds === 1)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("second ensure of a committed stage rebuilds nothing and takes no lock") {
    val out = tempDir("staging-idem").resolve("stage_z")
      .toString
    val conf = new org.apache.hadoop.conf.Configuration()
    var builds = 0
    def once(): Unit = Staging.ensureConf(conf, out) { tmp =>
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "component.txt"), "w")
    }
    once(); once()
    assert(builds == 1, s"committed stage rebuilt ($builds builds)")
  }
}
