package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one way the engine persists an artifact it may reuse later (BPE
  * and unigram tokenizers, ANN and text indexes, ingest-gate corpus
  * index, pipeline stages, layout fixtures, stress corpora). Callers
  * describe a stage by a [[Staging.Key]] and get back its root; where
  * the root lives, what it is keyed by and how it is committed is
  * decided here alone.
  *
  * '''Key.''' A root is a function of three things:
  *   - the stage's inputs: each input path and its content key (the
  *     sorted (name, length, mtime) listing of its files — a listing,
  *     no data read), so a source rewritten under the same path gets a
  *     new root;
  *   - the stage's parameters, which tell apart artifacts built from
  *     the same inputs;
  *   - the code fingerprint: one MD5 over the bytes of every compiled
  *     class on the code source that holds `Staging` (a classes
  *     directory or a jar), computed once per JVM. An artifact built by
  *     other code is never served, so no key carries a hand-kept
  *     version tag.
  *
  * '''Layout.''' Key `name = "<family>/<artifact>"` lands at
  * `target/<family>/graft_<artifact>_<8 hex>`, relative to the working
  * directory.
  *
  * '''Commit.''' A stage is finished when its root holds a `_SUCCESS`
  * marker. A missing stage is built under a private temp root
  * (`<root>.tmp-<nonce>`) that no reader probes, the marker is written
  * inside it after every component, and one `rename(tmp, root)` —
  * atomic on POSIX and HDFS — publishes it, so readers see nothing or
  * the finished stage. Builders of one stage serialize on a per-root
  * monitor within a JVM and on a lock file (`<root>.lock`) across
  * processes; the lock is heartbeat-kept while its holder lives and
  * taken over once its mtime is older than `graft.staging.lock.stale.ms`
  * (default 10 min). When a takeover races a live holder, both build the
  * same bytes (same key), the rename commit decides which is served,
  * and a root without a marker is never served. On a store without
  * atomic directory rename, the commit is the one function to swap for
  * a manifest-pointer commit. */
object Staging {

  /** A stage: `name` is `<family>/<artifact>`, `inputs` the paths of the
    * tables (files or directories) it is built from, `params` whatever
    * else tells it apart from a stage of the same name and inputs. */
  final case class Key(name: String, inputs: Seq[String], params: Any*) {
    require(name.matches("[a-z0-9_]+/[a-z0-9_]+"), s"stage name $name is not <family>/<artifact>")
  }

  /** The root of `key`'s stage, whether or not it is built yet. */
  def root(spark: SparkSession, key: Key): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val inputs = key.inputs.map(p => s"$p=${contentKey(conf, p)}")
    val Array(family, artifact) = key.name.split('/')
    val id = Bucketed.md5hex(
      (Seq(key.name, codeFingerprint) ++ inputs ++ key.params.map(String.valueOf)).mkString("\n"))
    s"target/$family/graft_${artifact}_${id.take(8)}"
  }

  /** The root of `key`'s stage, built first by `build(tmpRoot)` (which
    * writes every component under the given temp root) unless it is
    * already finished. */
  def stage(spark: SparkSession, key: Key)(build: String => Unit): String =
    ensureConf(spark.sparkContext.hadoopConfiguration, root(spark, key))(build)

  /** Absolute form of a stage root, for embedding in oracle SQL: the
    * oracle harness runs from another working directory, where the
    * relative root resolves to nothing. */
  def abs(path: String): String = new java.io.File(path).getAbsolutePath

  /** Content key of a table: MD5 of its files' sorted
    * (name, length, mtime) triples. */
  private def contentKey(conf: org.apache.hadoop.conf.Configuration, table: String): String = {
    val p = new Path(table)
    val fs = p.getFileSystem(conf)
    val files =
      if (!fs.exists(p)) Seq.empty
      else if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
      else fs.listStatus(p).toSeq.sortBy(_.getPath.getName)
    Bucketed.md5hex(files.map(st =>
      s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}").mkString("|"))
  }

  /** MD5 over the compiled classes of this code source, in path order. */
  private lazy val codeFingerprint: String = {
    val src = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val md = MessageDigest.getInstance("MD5")
    if (Files.isDirectory(src)) {
      val walk = Files.walk(src)
      try walk.filter(_.toString.endsWith(".class")).sorted().forEach { p =>
        md.update(src.relativize(p).toString.getBytes(UTF_8))
        md.update(Files.readAllBytes(p))
      } finally walk.close()
    } else md.update(Files.readAllBytes(src))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One monitor per stage root: builders of the same stage in one JVM
    * serialize, builders of different stages run concurrently. */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Commit the stage at `out` unless it is finished; returns `out`.
    * Spark-free, so the two-JVM race probe can drive it directly. */
  private[graft] def ensureConf(conf: org.apache.hadoop.conf.Configuration, out: String)(
      build: String => Unit): String =
    locks.computeIfAbsent(out, _ => new Object).synchronized {
      ensureLocked(conf, out)(build)
    }

  /** Run `body` holding `<out>.lock` against other processes. The lock
    * file is created if absent (a single-writer create on HDFS;
    * check-then-create on the local FS, which is why the rename commit
    * stays the correctness backstop). The holder advances the lock's
    * mtime every staleMs/4 from a daemon thread, so a live build of any
    * length never looks crashed; a waiter that sees the mtime frozen
    * past staleMs deletes the lock and retries. The lock holds an owner
    * token (pid + nonce), and release deletes it only if the token is
    * still its own, so a holder never deletes a lock taken over from it. */
  private[graft] def withProcessLock[T](fs: org.apache.hadoop.fs.FileSystem,
      out: String)(body: => T): T = {
    val lock = new Path(s"$out.lock")
    val staleMs = sys.props.getOrElse("graft.staging.lock.stale.ms",
      "600000").toLong
    val token =
      s"${ProcessHandle.current().pid()}-${java.util.UUID.randomUUID()}"
    var acquired = false
    while (!acquired) {
      try {
        Option(lock.getParent).foreach(fs.mkdirs(_))
        val os = fs.create(lock, false)
        os.write(token.getBytes(UTF_8))
        os.close()
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val stale =
            try System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime > staleMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale) fs.delete(lock, false) else Thread.sleep(50L)
      }
    }
    // heartbeat until interrupted or the lock file is gone (taken over);
    // any other IOException is transient — one failed setTimes must not
    // freeze the mtime of a running build
    val hb = new Thread(() => {
      try {
        var live = true
        while (live && !Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(250L, staleMs / 4))
          try fs.setTimes(lock, System.currentTimeMillis(), -1L)
          catch {
            case _: java.io.FileNotFoundException => live = false
            case _: java.io.IOException => ()
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-staging-heartbeat-${new Path(out).getName}")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hb.interrupt()
      try {
        val mine =
          try {
            val in = fs.open(lock)
            val buf = new Array[Byte](256)
            val n = math.max(0, in.read(buf))
            in.close()
            new String(buf, 0, n, UTF_8) == token
          } catch { case _: java.io.FileNotFoundException => false }
        if (mine) fs.delete(lock, false)
      } catch { case _: java.io.IOException => () }
    }
  }

  private def ensureLocked(conf: org.apache.hadoop.conf.Configuration,
      out: String)(build: String => Unit): String = {
    val root = new Path(out)
    val fs = root.getFileSystem(conf)
    val ok = new Path(out, "_SUCCESS")
    if (!fs.exists(ok)) withProcessLock(fs, out) {
      // a waiter that acquires the lock after a winner committed sees
      // the marker here and serves the winner's stage
      if (!fs.exists(ok)) {
        // markerless residue (a crashed build) is never served: clear it
        // so the rename finds no destination (Hadoop's local rename would
        // otherwise nest the temp root inside an existing directory)
        if (fs.exists(root)) fs.delete(root, true)
        val tmp = new Path(
          s"$out.tmp-${java.lang.Thread.currentThread.getId}-${System.nanoTime}")
        try {
          build(tmp.toString)
          fs.create(new Path(tmp, "_SUCCESS")).close()
          Option(root.getParent).foreach(fs.mkdirs(_))
          if (!fs.exists(ok) && !fs.rename(tmp, root)) {
            // a takeover-raced process committed first (serve its
            // stage) or the rename really failed (surface it)
            require(fs.exists(ok),
              s"stage commit failed and no finished stage exists at $out")
          }
        } finally {
          if (fs.exists(tmp)) fs.delete(tmp, true)
        }
        require(fs.exists(ok), s"no finished stage marker at $out after commit")
      }
    }
    out
  }
}
