package graft.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}

import java.io.{FileNotFoundException, IOException}

/**
 * The distributed-filesystem seam under every metadata/janitor verb:
 * manifest commits and prunes ([[TopicLog]]), txn markers and vacuum
 * ([[Txn]]), ack-log staging ([[AckLog]]), retention/offload moves
 * ([[Admin]]), near-dup index compaction swaps
 * ([[graft.ext.NearDupStream]]), AT_MOST_ONCE ack markers and replay
 * staging ([[graft.streaming.Functions]]). All of that machinery
 * previously spoke `java.nio.file` — driver-local POSIX only — while
 * the engine's data plane (Spark reads/writes) already went through
 * Hadoop's `FileSystem`, so a log stored on `hdfs://`/`s3a://` had a
 * working data path and a dead control plane. This object routes the
 * control plane through the SAME Hadoop `FileSystem` abstraction the
 * data plane uses: one path string ("`/local/dir`", "`file:/...`",
 * "`hdfs://nn/...`") resolves both.
 *
 * The reference keeps this layer in BookKeeper + the metadata store
 * (managed-ledger/src/main/java/org/apache/bookkeeper/mledger/impl/
 * ManagedLedgerImpl.java:781 ledger appends; tiered-storage/jcloud for
 * offload); here the commit protocol is file-atomicity on whatever
 * filesystem holds the log.
 *
 * Semantics per scheme — the ONLY primitive the commit protocols need
 * to be atomic is [[atomicCreate]] (publish-content-iff-absent), and
 * every scheme class has a native implementation of it:
 *  - local (`file:` or schemeless): resolved to [[RawLocalFileSystem]]
 *    (the checksummed [[LocalFileSystem]] would shadow every file with
 *    a `.crc` sibling, breaking directory-content protocols). rename(2)
 *    REPLACES an existing target; [[atomicCreate]] therefore uses the
 *    hard-link first-writer-wins protocol on this scheme (link(2) fails
 *    atomically when the target exists).
 *  - HDFS: `rename` is atomic and FAILS when the target exists —
 *    first-writer-wins is native, [[atomicCreate]]'s rename branch is
 *    exact there.
 *  - object stores (s3a/gs/abfs/..., see [[isObjectStore]]): rename is
 *    copy+delete — never relied on for atomicity. [[atomicCreate]]
 *    takes the CONDITIONAL-PUT branch instead: `create(path,
 *    overwrite=false)` with content visible only at close, which
 *    modern stores implement natively as an if-none-match PUT (S3
 *    conditional writes, GCS preconditions, ABFS ETag create). The
 *    protocols that previously leaned on directory rename do not
 *    exist anymore: the index compaction swap is pointer-file
 *    indirection over immutable data dirs ([[graft.ext.IndexIO]]),
 *    txn/ack markers are atomicCreate'd directly, and latest-wins
 *    cursor files go through [[moveReplace]]'s overwrite-PUT branch.
 *    Per-DATA-file moves are nearly gone on these schemes: staged
 *    publish writes at final paths ([[TopicLog]] direct staging, the
 *    `_staging/<epoch>.files` record) and stream/index epoch writes
 *    commit via [[DirectCommitProtocol]] — only OFFLOAD still moves
 *    bytes between tiers, which on a real store is the server-side
 *    COPY a tier migration inherently is, idempotent and
 *    content-identical under manifest gating.
 *
 * Failure model: missing paths surface as Hadoop's
 * [[FileNotFoundException]] (an [[IOException]]) — call sites that
 * tolerated `java.nio.file.NoSuchFileException` catch that instead.
 */
object PathIO {

  /** Hadoop conf: the active/default session's (inherits
    * `spark.hadoop.*`); on EXECUTORS — where no SparkSession object
    * exists but [[org.apache.spark.SparkEnv]] carries the driver's
    * SparkConf — rebuilt from the shipped `spark.hadoop.*` keys, so
    * credentials and fs impl overrides survive the boundary (a bare
    * `new Configuration()` silently dropped them and remote-scheme
    * paths resolved differently than their driver-side keys). A fresh
    * default remains only for no-Spark-at-all callers (plain JVM
    * janitor tools). */
  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse {
        val c = new Configuration()
        Option(org.apache.spark.SparkEnv.get).foreach { env =>
          env.conf.getAllWithPrefix("spark.hadoop.")
            .foreach { case (k, v) => c.set(k, v) }
        }
        c
      }

  /** Default object-store scheme set; extend per deployment with the
    * Hadoop conf key `graft.objectstore.schemes` (comma-separated —
    * reachable as `spark.hadoop.graft.objectstore.schemes`). */
  private val DefaultObjectStoreSchemes: Set[String] =
    Set("s3a", "s3", "s3n", "gs", "abfs", "abfss", "oss", "cos",
      "wasb", "wasbs")

  /** Is `p` on an object store? Those schemes get the conditional-PUT
    * [[atomicCreate]] branch and the overwrite-PUT [[moveReplace]]
    * branch — rename is never their atomicity primitive. */
  private[graft] def isObjectStore(p: Path): Boolean = {
    val scheme = Option(qualify(p).toUri.getScheme).getOrElse("file")
    DefaultObjectStoreSchemes.contains(scheme) || {
      import scala.collection.JavaConverters._
      conf.getTrimmedStringCollection("graft.objectstore.schemes")
        .asScala.exists(_ == scheme)
    }
  }

  /** FileSystem for `p`'s scheme; local resolves to the RAW local
    * filesystem (no `.crc` side files — see class doc). */
  def fs(p: Path): FileSystem = p.getFileSystem(conf) match {
    case l: LocalFileSystem => l.getRawFileSystem
    case other => other
  }

  /** `Paths.get(a, b, c)` analog. Later segments may contain `/`. */
  def path(first: String, more: String*): Path =
    more.foldLeft(new Path(first))((p, s) => new Path(p, s))

  def child(p: Path, name: String): Path = new Path(p, name)

  /** Fully-qualified form (scheme + authority made explicit) — the
    * canonical string for cross-referencing paths (txn marker lines,
    * file-stat map keys): "`/a/b`" and "`file:/a/b`" qualify
    * identically, so writers and readers of a path key can disagree on
    * spelling without breaking the lookup. */
  def qualify(s: String): Path = qualify(new Path(s))
  def qualify(p: Path): Path = fs(p).makeQualified(p)

  def exists(p: Path): Boolean = fs(p).exists(p)

  def isDirectory(p: Path): Boolean = {
    val f = fs(p)
    try f.getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }
  }

  /** Non-recursive children. Missing dir ⇒ [[FileNotFoundException]]
    * (the `Files.list` contract call sites already guard with
    * [[exists]]). One RPC; statuses carry mtime/size for free. */
  def listStatusSeq(p: Path): Seq[FileStatus] = fs(p).listStatus(p).toSeq

  def listDir(p: Path): Seq[Path] = listStatusSeq(p).map(_.getPath)

  /** Recursive pre-order walk, start included, parents before children
    * (`.reverse` gives the children-first order tree deletion wants).
    * Statuses, not bare paths: a walk-then-stat pattern would double
    * the RPC count on a remote namenode. Missing start ⇒
    * [[FileNotFoundException]]; an entry vanishing mid-walk surfaces
    * the same way (call sites that race healers catch IOException). */
  def walkStatuses(p: Path): Seq[FileStatus] = {
    val f = fs(p)
    def go(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) st +: f.listStatus(st.getPath).toSeq.flatMap(go)
      else Seq(st)
    go(f.getFileStatus(p))
  }

  def walkAll(p: Path): Seq[Path] = walkStatuses(p).map(_.getPath)

  /** Short-circuiting walk: does any file under `base` satisfy `pred`
    * (given its base-relative path)? The emptiness probes on every
    * offset-only read use this — materializing the whole tree first
    * is O(total-files) per read on a large topic. */
  def existsFileWhere(base: Path)(pred: String => Boolean): Boolean = {
    val f = fs(base)
    val b = qualify(base)
    def go(st: FileStatus): Boolean =
      if (st.isDirectory) f.listStatus(st.getPath).exists(go)
      else pred(relativize(b, st.getPath))
    try go(f.getFileStatus(base))
    catch { case _: FileNotFoundException => false }
  }

  /** Non-recursive delete; false when absent. Deleting a non-empty
    * directory throws (the `Files.deleteIfExists` contract the
    * reverse-walk tree deletes rely on). */
  def deleteIfExists(p: Path): Boolean = {
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      if (f.getFileStatus(p).isDirectory && f.listStatus(p).nonEmpty)
        throw new IOException(s"directory not empty: $p")
      f.delete(p, false)
    }
  }

  /** Recursive delete; false when absent. */
  def deleteTree(p: Path): Boolean = {
    val f = fs(p)
    f.exists(p) && f.delete(p, true)
  }

  def mkdirs(p: Path): Unit = { fs(p).mkdirs(p); () }

  def readBytes(p: Path): Array[Byte] = {
    val f = fs(p)
    val len = f.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"metadata file too large to read whole: $p")
    val buf = new Array[Byte](len.toInt)
    val in = f.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  def readString(p: Path): String = new String(readBytes(p), "UTF-8")

  def readLines(p: Path): Seq[String] = readString(p).split("\n", -1).toSeq

  /** Full overwrite write (metadata files only — data goes through
    * Spark writers). */
  def write(p: Path, bytes: Array[Byte]): Unit = {
    val out = fs(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  def writeString(p: Path, s: String): Unit = write(p, s.getBytes("UTF-8"))

  /** Strict rename: throws when it cannot complete — commit-protocol
    * moves (txn markers, compaction swaps) must fail fast, never
    * silently leave the source in place (the ATOMIC_MOVE-explicitness
    * this seam's predecessors were advised to adopt). */
  def move(src: Path, dst: Path): Unit = {
    if (!fs(src).rename(src, dst))
      throw new IOException(
        s"rename $src -> $dst failed (dst exists: ${exists(dst)})")
  }

  /** Race-tolerant rename for idempotent per-file moves (staged-file
    * publication): losing to a competing healer — source already gone,
    * or target already present — is the competitor's success, not an
    * error. Only a rename that failed with the source still present
    * and the target still absent propagates. */
  def moveTolerant(src: Path, dst: Path): Unit = {
    val f = fs(src)
    val ok = try f.rename(src, dst) catch { case _: IOException => false }
    if (!ok && f.exists(src) && !f.exists(dst))
      throw new IOException(s"rename $src -> $dst failed")
  }

  /** Atomic replace-rename (small metadata files whose latest version
    * wins: pattern cursors, watermark files). Plain `FileSystem.rename`
    * can't express overwrite on HDFS (it fails when the target
    * exists), so this goes through [[FileContext]]'s
    * `Options.Rename.OVERWRITE` — atomic on HDFS and POSIX. On object
    * stores (no FileContext binding, rename is copy+delete anyway) the
    * same latest-wins contract is an overwrite PUT: object visibility
    * is atomic per PUT, and these verbs tolerate losing a concurrent
    * latest-wins race by definition. */
  def moveReplace(src: Path, dst: Path): Unit = {
    if (isObjectStore(src)) {
      val f = fs(src)
      write(dst, readBytes(src))
      f.delete(src, false): Unit
    } else {
      val q = qualify(src)
      FileContext.getFileContext(q.toUri, conf)
        .rename(q, qualify(dst), Options.Rename.OVERWRITE)
    }
  }

  def lastModified(p: Path): Long = fs(p).getFileStatus(p).getModificationTime

  def setLastModified(p: Path, ms: Long): Unit = fs(p).setTimes(p, ms, -1)

  def size(p: Path): Long = fs(p).getFileStatus(p).getLen

  /** Copy file contents (offload's copy-then-unreference leg). */
  def copy(src: Path, dst: Path): Unit = {
    org.apache.hadoop.fs.FileUtil.copy(fs(src), src, fs(dst), dst,
      false, true, conf): Unit
  }

  /** `base.relativize(p)` analog over qualified URIs. */
  def relativize(base: Path, p: Path): String = {
    val b = qualify(base).toUri.getPath
    val c = qualify(p).toUri.getPath
    if (c == b) ""
    else {
      require(c.startsWith(b + "/"), s"$p is not under $base")
      c.substring(b.length + 1)
    }
  }

  /**
   * Atomically publish `content` at `target` iff absent — FIRST writer
   * wins; either way the caller verifies the target's content against
   * its own (the manifest-commit primitive, shared by
   * [[TopicLog.publishManifest]], [[Txn.recover]], [[AckLog.publish]]).
   *
   * Local filesystems use the hard-link protocol (link(2) fails
   * atomically with "already exists" where rename(2) would silently
   * REPLACE a competing commit — the TOCTOU this primitive closes).
   * Object stores use a CONDITIONAL PUT (`create(overwrite=false)`,
   * content visible only at close — if-none-match on S3/GCS/ABFS):
   * first-writer-wins is native and the object is complete-or-absent
   * by PUT atomicity. Remaining remote schemes (HDFS and friends) use
   * write-tmp + rename, exact there because rename fails when the
   * target exists.
   */
  private[graft] def atomicCreate(target: Path, content: Array[Byte]): Boolean =
    fs(target) match {
      case raw: RawLocalFileSystem =>
        nioAtomicCreate(raw.pathToFile(target).toPath, content)
      case f if isObjectStore(target) =>
        conditionalPutCreate(f, target, content)
      case f => renameAtomicCreate(f, target, content)
    }

  /**
   * Distributed bulk metadata ops: rename each `(src, dst, mtimeMs)`
   * and pin the destination's mtime — as executor tasks, so a
   * million-file replay staging never serializes through a driver-side
   * per-file loop (the ops are metadata-only; wall cost is
   * files/parallelism × one namenode RPC). The driver's Hadoop conf is
   * shipped explicitly: executors have no active SparkSession for
   * [[conf]] to find. Idempotent under task retry (source already
   * moved ⇒ skip); a DIFFERENT file already at the destination fails
   * loudly rather than silently replacing it.
   */
  def distributedMoveAndPin(spark: org.apache.spark.sql.SparkSession,
                            specs: Seq[(String, String, Long)]): Unit = {
    if (specs.isEmpty) return
    val props: Array[(String, String)] = {
      import scala.collection.JavaConverters._
      spark.sparkContext.hadoopConfiguration.iterator().asScala
        .map(e => e.getKey -> e.getValue).toArray
    }
    val par = math.min(64, specs.size)
    spark.sparkContext.parallelize(specs, par).foreachPartition {
      (it: Iterator[(String, String, Long)]) =>
        val c = new Configuration(false)
        props.foreach { case (k, v) => c.set(k, v) }
        it.foreach { case (s, d, t) =>
          val sp = new Path(s)
          val dp = new Path(d)
          val f = sp.getFileSystem(c) match {
            case l: LocalFileSystem => l.getRawFileSystem
            case other => other
          }
          if (f.exists(dp) && f.exists(sp))
            throw new IOException(
              s"bulk move: $d already exists with $s still present — " +
                s"two stagings collided on one destination")
          if (!f.rename(sp, dp) && !(f.exists(dp) && !f.exists(sp)))
            throw new IOException(s"bulk move: rename $s -> $d failed")
          f.setTimes(dp, t, -1)
        }
    }
  }

  /** Conditional-PUT first-writer-wins (object-store schemes): one
    * `create(target, overwrite=false)` whose close() is the atomic
    * publish — no tmp file, no rename anywhere. The store materializes
    * the object only on a successful conditional close, so a crash
    * mid-write leaves NOTHING (not even a partial object), and a
    * concurrent winner surfaces as [[org.apache.hadoop.fs
    * .FileAlreadyExistsException]] from create() or close() (providers
    * map the HTTP 412 differently, hence the exists() re-check on any
    * IOException). A true win is exact — close() succeeded with OUR
    * bytes — so no verify read-back is needed on that path. */
  private[graft] def conditionalPutCreate(f: FileSystem, target: Path,
                                          content: Array[Byte]): Boolean = {
    if (f.exists(target)) return false // cheap pre-check; the PUT re-checks
    val out =
      try f.create(target, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case e: IOException => if (f.exists(target)) return false else throw e
      }
    try { out.write(content); out.close() }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
      case e: IOException => if (f.exists(target)) return false else throw e
    }
    true
  }

  /** Infix of the sibling an in-flight [[atomicCreate]] writes before
    * it publishes (`<target name>.tmp.<uuid>`, local and rename
    * schemes). A directory protocol that lists its publish targets must
    * skip such names: one exists for as long as a publish is in flight,
    * and stays behind when the publisher crashes. */
  private[graft] val AtomicCreateTmpInfix = ".tmp."

  private def atomicCreateTmpName(target: String): String =
    s"$target$AtomicCreateTmpInfix${java.util.UUID.randomUUID}"

  /** Hard-link first-writer-wins (local scheme). */
  private[graft] def nioAtomicCreate(target: java.nio.file.Path,
                                     content: Array[Byte]): Boolean = {
    import java.nio.file.{Files, StandardCopyOption}
    val tmp = target.resolveSibling(atomicCreateTmpName(target.getFileName.toString))
    Files.createDirectories(target.getParent)
    Files.write(tmp, content)
    try {
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.nio.file.NoSuchFileException =>
          // our tmp vanished before the link: a concurrent publisher's
          // leftover sweep deleted it — that sweep only runs AFTER the
          // sweeper created the target, so the target existing means we
          // simply lost the race; anything else stays loud
          if (Files.exists(target)) false else throw e
        case _: UnsupportedOperationException =>
          // no hard links on this mount: degrade to the rename protocol
          Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          java.util.Arrays.equals(Files.readAllBytes(target), content)
      }
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Write-tmp + rename first-writer-wins (remote schemes; exact on
    * HDFS where rename fails-if-exists, verify-after elsewhere). */
  private[graft] def renameAtomicCreate(f: FileSystem, target: Path,
                                        content: Array[Byte]): Boolean = {
    val tmp = new Path(target.getParent, atomicCreateTmpName(target.getName))
    val out = f.create(tmp, false)
    try out.write(content) finally out.close()
    try {
      if (f.exists(target)) false
      else {
        val renamed =
          try f.rename(tmp, target)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: FileNotFoundException if f.exists(target) => false
          }
        if (!renamed) {
          if (f.exists(target)) false
          else throw new IOException(
            s"atomicCreate: rename $tmp -> $target failed with no competitor")
        } else {
          val back = {
            val len = f.getFileStatus(target).getLen
            val buf = new Array[Byte](len.toInt)
            val in = f.open(target)
            try in.readFully(0, buf) finally in.close()
            buf
          }
          java.util.Arrays.equals(back, content)
        }
      }
    } finally { f.delete(tmp, false); () }
  }
}
