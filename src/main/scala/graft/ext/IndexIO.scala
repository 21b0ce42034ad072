package graft.ext

import graft.log.{DirectCommitProtocol, PathIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Storage protocol of the persisted streaming-dedup indexes
 * ([[NearDupStream]] bands/shingles, [[SemanticDedupStream]] vecs,
 * [[CleanCorpusStream]] hashes, [[DecontamStream]] ngrams): epoch
 * partition dirs, plus a compaction that folds old epochs into one
 * consolidated directory — committed by POINTER-FILE INDIRECTION, not
 * directory rename.
 *
 * Layout of one index level dir:
 *  - `epoch=<id>/...`            — written directly by batch `<id>`
 *    (plain overwrite; epoch is constant within a batch, so a replayed
 *    batch rewrites exactly its own directory);
 *  - `_fold-<upTo>-<gen>/epoch=<upTo>/...` — IMMUTABLE consolidated
 *    data, underscore-hidden from Spark discovery;
 *  - `_live-<upTo>-<gen>`        — the commit record: a pointer file
 *    published with [[PathIO.atomicCreate]] naming the fold dir it
 *    activates. The HIGHEST (upTo, gen) pointer defines the committed
 *    view; everything it subsumes (plain epoch dirs ≤ upTo, earlier
 *    pointers and their fold dirs) is garbage the janitor deletes.
 *
 * Two root layouts ([[writeRoot]]), told apart per file by the `k=v`
 * segments below `epoch=<id>`:
 *  - BUCKETED: `<bucket>=<v>/part-*`, one file per bucket, so a batch
 *    reads only its own buckets (the bucket is a partition column);
 *  - FLAT: `part-*` directly under `epoch=<id>`, ONE file with the
 *    bucket kept as a data column — written while the epoch's batch
 *    plus the committed index (or a fold's sources) is under one input
 *    split ([[BatchTune.underOneSplit]]), where a batch hits nearly
 *    every bucket anyway and each extra file costs a reader its own
 *    open, conf copy and footer. Small runs stay unpartitioned and a
 *    fold partitions them once they are large — the LSM shape.
 * A level may mix flat roots with bucketed roots of ONE bucket column.
 * Every bucket column is derived from the key its consumer joins on,
 * so the bucket prune only ever drops rows that cannot match: reading
 * a flat root whole yields the same verdicts.
 *
 * Why pointers: the previous protocol finished a fold with ONE
 * directory rename (`_compact_tmp-N` → `epoch=N`) — atomic on
 * HDFS/POSIX, but per-object copy+delete on an object store, where a
 * crash mid-rename left a partially-copied `epoch=N` with the source
 * epochs already deleted. Here no commit step ever renames: data dirs
 * are written once and never move, and the only atomic primitive is
 * [[PathIO.atomicCreate]] of the pointer — native on every scheme
 * (hard-link locally, exclusive rename on HDFS, conditional PUT on
 * object stores). The reference's tiered storage commits the same way
 * (tiered-storage/jcloud/.../OffloadIndexBlockImpl.java — an index
 * block of immutable data blocks, activated by one small index write).
 *
 * Crash windows (all healed by [[resume]], which every stream batch
 * and every fold entry-point runs first):
 *  - mid-write of a fold dir (no pointer): fold dirs unreferenced by
 *    the live pointer are deleted; source epochs intact — the fold
 *    simply re-runs later.
 *  - after the pointer, mid-cleanup: readers already see exactly the
 *    folded view ([[entries]] excludes subsumed dirs), resume finishes
 *    the deletes.
 *
 * Scale notes: flat roots are written only while batch plus committed
 * index (a fold: its sources) is under one split, so a read scans at
 * most about one split per level unpruned; an index past one split —
 * any 100 TB deployment — is bucketed in every epoch and fold, and
 * planned exactly as without flat roots. A fold writes its
 * consolidated copy beside its sources, so while it runs a level holds
 * its folded entries twice. The indexed
 * streams fold with the deferred GC ([[compact]] with `gcNow = false`),
 * so the sources go only at the NEXT batch's [[resume]]: the level's
 * on-disk footprint stays about 2× its committed view from the fold's
 * write until one batch later (until the first batch after a restart,
 * if the stream stops right after a fold epoch). Provision each level
 * for twice its largest committed view. [[committedBytes]] counts the
 * committed view only, so the transient copy never widens a batch.
 *
 * Single-writer by construction (foreachBatch is sequential; rebucket
 * is an offline op) — a lost pointer publish therefore means two
 * writers and fails loudly.
 */
private[graft] object IndexIO {
  private type HPath = org.apache.hadoop.fs.Path

  private val PtrPrefix = "_live-"
  private val FoldPrefix = "_fold-"

  /** A committed fold: `_live-<upTo>-<gen>` activating `_fold-<upTo>-<gen>`. */
  private final case class Pointer(upTo: Long, gen: Long) {
    def ptrName: String = s"$PtrPrefix$upTo-$gen"
    def foldName: String = s"$FoldPrefix$upTo-$gen"
  }

  /** Parse a pointer file name, loudly: an unrecognized `_live-*` name
    * is corruption, not something to index into a generic split. */
  private def parsePointer(name: String): Pointer = {
    val rest = name.stripPrefix(PtrPrefix)
    rest.split('-') match {
      case Array(u, g) if u.nonEmpty && g.nonEmpty &&
          u.forall(_.isDigit) && g.forall(_.isDigit) =>
        Pointer(u.toLong, g.toLong)
      case _ => sys.error(s"unrecognized index pointer name: $name")
    }
  }

  /** The sibling a pointer publish writes first
    * (`_live-<upTo>-<gen>.tmp.<uuid>`, [[PathIO.atomicCreate]]): not a
    * commit. A body read listing the level while its fold publishes sees
    * one; a crash mid-publish leaves one for [[resume]] to sweep. */
  private def isPointerTmp(name: String): Boolean =
    name.startsWith(PtrPrefix) && name.contains(PathIO.AtomicCreateTmpInfix)

  /** Committed view of one level: the live pointer (highest (upTo,
    * gen)), and the plain epoch dirs NOT subsumed by it. Subsumed
    * plain dirs (epoch ≤ live.upTo) may still exist in the
    * crash-after-pointer window — their content is inside the fold,
    * so readers must exclude them or double-count. */
  private def view(dir: HPath): (Option[Pointer], Seq[(Long, HPath)]) = {
    if (!PathIO.exists(dir)) return (None, Seq.empty)
    val names = PathIO.listDir(dir)
    // the pre-pointer protocol's rename-swap tmps cannot be healed by
    // this code — refuse loudly rather than misread the level
    names.map(_.getName)
      .find(n => n.startsWith("_compact_tmp-") || n.startsWith("_rebucket_tmp-"))
      .foreach(n => sys.error(
        s"legacy rename-swap tmp '$n' in $dir — pre-pointer-protocol " +
          "index; finish or discard it with the engine version that wrote it"))
    val ptrs = names.map(_.getName)
      .filter(n => n.startsWith(PtrPrefix) && !isPointerTmp(n)).map(parsePointer)
    val live = if (ptrs.isEmpty) None
      else Some(ptrs.maxBy(p => (p.upTo, p.gen)))
    val floor = live.map(_.upTo).getOrElse(Long.MinValue)
    val plain = names.filter(_.getName.startsWith("epoch="))
      .map(p => (p.getName.stripPrefix("epoch=").toLong, p))
      .filter(_._1 > floor)
      .sortBy(_._1)
    (live, plain)
  }

  /** Committed epoch ids, fold entry included — the layout-independent
    * replacement for counting `epoch=` dirs. */
  private[graft] def committedEpochs(levelDir: String): Seq[Long] = {
    val (live, plain) = view(PathIO.path(levelDir))
    (live.map(_.upTo).toSeq ++ plain.map(_._1)).sorted
  }

  /** One root of a committed view: its dir, the basePath it is grouped
    * under (the level dir for plain epochs; the live fold's own `_fold-*`
    * dir for its `epoch=<upTo>` subtree, so both parse the identical
    * `<bucket>=` segments below an `epoch=` dir) and its epoch id. */
  private final case class Root(base: String, dir: HPath, epoch: Long)

  private def committedRoots(levelDir: String): Seq[Root] = {
    val dir = PathIO.path(levelDir)
    val (live, plain) = view(dir)
    roots(dir, live, plain)
  }

  private def roots(dir: HPath, live: Option[Pointer],
                    plain: Seq[(Long, HPath)]): Seq[Root] = {
    val foldRoot = live.map { p =>
      val base = PathIO.child(dir, p.foldName)
      Root(base.toString, PathIO.child(base, s"epoch=${p.upTo}"), p.upTo)
    }
    plain.map { case (e, p) => Root(dir.toString, p, e) } ++ foldRoot
  }

  /** One planned relation of a committed view: the files of one
    * (basePath, layout) group, `layout` being the partition columns
    * below `epoch=` — the bucket column, or none for flat roots. */
  private final case class Group(layout: Seq[String], bytes: Long, df: DataFrame)

  private def union(dfs: Seq[DataFrame]): Option[DataFrame] =
    dfs.reduceOption(_.unionByName(_))

  private def empty(like: DataFrame): DataFrame =
    like.withColumn("epoch", lit(0L)).limit(0)

  /** Read the committed view of one level (partition column `epoch`,
    * plus the bucket column on bucketed roots — nullable `LongType`, so
    * `epoch <`/`bucket isin` filters stay PartitionFilters); empty-with-
    * schema when the level doesn't exist yet or no committed root holds
    * a data file. `like` supplies the data schema, bucket column
    * included (flat roots store it as data).
    *
    * Planning cost: no Spark job and no LIST beyond each root's file
    * set ([[plan]]) — a root carrying a [[graft.log.DirectCommitProtocol]]
    * manifest (levels written on object-store schemes) costs one GET,
    * a stock-committed root (local/HDFS) one driver-side walk. Spark's
    * own discovery would re-list what [[view]] already listed (O(epochs
    * × buckets) LISTs, a parallel-listing job per 64-bucket root) and
    * infer the schema in one more job per basePath group, every batch. */
  def read(spark: SparkSession, levelDir: String, like: DataFrame): DataFrame =
    union(plan(spark, committedRoots(levelDir), _ => like.schema).map(_.df))
      .getOrElse(empty(like))

  /** The committed entries of one level that batch `epoch` joins
    * against: `epoch < epoch` on every root (a replayed batch must not
    * see its own half-written entries) and, on bucketed roots only,
    * `bucketCol isin` the distinct values of the one-column frame
    * `buckets` — both PartitionFilters. A flat root is read whole: a
    * flat root exists only while the level is under one split, and a
    * bucket filter there could only become a per-epoch row predicate.
    * The bucket list (at most the level's fanout) is collected only
    * when the view has a bucketed root; an empty list reads nothing
    * from bucketed roots. */
  def readBefore(spark: SparkSession, levelDir: String, like: DataFrame,
                 epoch: Long, bucketCol: String, buckets: DataFrame): DataFrame = {
    lazy val keep = buckets.distinct().collect().map(_.getLong(0)).toSeq
    union(plan(spark, committedRoots(levelDir), _ => like.schema).map { g =>
      val before = g.df.filter(col("epoch") < epoch)
      if (g.layout.isEmpty) before
      else {
        require(g.layout == Seq(bucketCol),
          s"$levelDir is bucketed by ${g.layout.mkString("/")}, not $bucketCol")
        before.filter(if (keep.isEmpty) lit(false) else col(bucketCol).isin(keep: _*))
      }
    }).getOrElse(empty(like))
  }

  /** [[read]] of a level that must already have committed entries —
    * the ops/verification form. No `like` schema is available here, so
    * the data schema comes from one footer per layout ([[footerSchema]]);
    * a level whose roots hold no data file reads as an empty `epoch`
    * column. */
  private[graft] def readLevel(spark: SparkSession, levelDir: String): DataFrame = {
    val roots = committedRoots(levelDir)
    require(roots.nonEmpty, s"no committed index entries under $levelDir")
    union(plan(spark, roots, footerSchema).map(_.df))
      .getOrElse(spark.emptyDataFrame.withColumn("epoch", lit(0L)))
  }

  /** Plan `roots` from their file sets with no Spark job: one
    * [[CatalogFileIndex]] relation per (basePath, layout) group (plain
    * roots; the live fold's subtree; flat and bucketed apart), each
    * with its group's roots as `rootPaths`. `dataSchema` gives the data
    * schema of a layout's files (its partition columns are dropped from
    * it). Empty when no root holds a data file — a zero-row bucketed
    * write leaves only `epoch=<id>/_SUCCESS`. A layout mix other than
    * flat beside one bucket column is refused. */
  private def plan(spark: SparkSession, roots: Seq[Root],
                   dataSchema: Seq[CatalogFileIndex.Entry] => StructType)
      : Seq[Group] = {
    // (root, layout, file) for every data file of every root
    val files = roots.flatMap(r => rootFiles(r).map { case (layout, e) => (r, layout, e) })
    val bucketLayouts = files.map(_._2).filter(_.nonEmpty).distinct
    require(bucketLayouts.size <= 1, s"index roots ${roots.map(_.dir).mkString(", ")} " +
      s"mix partition layouts ${bucketLayouts.map(_.mkString("/")).mkString(", ")}")
    val schemas = files.groupBy(_._2).map { case (layout, fs) =>
      val partCols = "epoch" +: layout
      layout -> StructType(dataSchema(fs.map(_._3))
        .filterNot(f => partCols.contains(f.name)))
    }
    files.groupBy(f => (f._1.base, f._2)).toSeq
      .sortBy { case ((base, layout), _) => (base, layout.isEmpty) }
      .map { case ((_, layout), fs) =>
        val entries = fs.map(_._3)
        Group(layout, entries.map(_.size).sum, CatalogFileIndex.relation(spark,
          fs.map(_._1.dir).distinct, "epoch" +: layout, entries, schemas(layout)))
      }
  }

  /** One root's data files with their partition layout (the `k=v`
    * segment names below the root) and values, the root's epoch first:
    * from the direct-commit manifest when the root has one, else from
    * [[walkDataFiles]]. */
  private def rootFiles(r: Root): Seq[(Seq[String], CatalogFileIndex.Entry)] =
    DirectCommitProtocol.readManifest(r.dir.toString)
      .getOrElse(walkDataFiles(r.dir))
      .map { case (rel, size) =>
        val (cols, vals) = CatalogFileIndex.parseRel(rel).getOrElse(sys.error(
          s"index file ${r.dir}/$rel is not under name=<long> partition dirs"))
        (cols, CatalogFileIndex.Entry(r.epoch +: vals, PathIO.child(r.dir, rel), size))
      }

  /** (root-relative path, bytes) of every data file under a
    * stock-committed root, by one driver-side walk that skips `_`/`.`
    * names at every depth as Spark's discovery does (`_SUCCESS`, a
    * leftover `_temporary/`, checksum siblings). */
  private def walkDataFiles(root: HPath): Seq[(String, Long)] = {
    val fs = PathIO.fs(root)
    def go(dir: HPath, rel: String): Seq[(String, Long)] =
      fs.listStatus(dir).toSeq
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .flatMap { st =>
          val r = rel + st.getPath.getName
          if (st.isDirectory) go(st.getPath, r + "/") else Seq((r, st.getLen))
        }
    go(root, "")
  }

  /** Data schema of a file set from ONE footer, read on the driver (no
    * Spark job): Spark's row-metadata key when the writer recorded it,
    * else the parquet schema converted — what discovery's
    * `mergeSchema = false` inference returns for a uniform level. */
  private def footerSchema(entries: Seq[CatalogFileIndex.Entry]): StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
    import org.apache.spark.sql.internal.SQLConf
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(entries.head.path, PathIO.conf))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(SQLConf.get).convert(meta.getSchema))
  }

  /** On-disk bytes of one level's committed view — the index-size
    * signal [[BatchTune.adapt]] folds into the batch's shuffle width
    * (a trickle batch against a large index must not fold/join the
    * whole index through 2 reducers). Manifest-first: a direct-commit
    * root answers from its recorded file sizes (one GET, no LIST);
    * stock-committed roots pay one walk. */
  private[graft] def committedBytes(levelDir: String): Long =
    committedRoots(levelDir).flatMap(rootFiles).map(_._2.size).sum

  /** Overwrite one index root `dir` with `df`: FLAT — one file, the
    * bucket column kept as data — or BUCKETED — partitioned by
    * `bucketCol` after a repartition on it, so each bucket lands in one
    * file (the per-file fixed cost every later pruned read pays). */
  private[ext] def writeRoot(df: DataFrame, bucketCol: String, flat: Boolean,
                             dir: String): Unit =
    if (flat) df.coalesce(1).write.mode("overwrite").parquet(dir)
    else df.repartition(col(bucketCol))
      .write.mode("overwrite").partitionBy(bucketCol).parquet(dir)

  /** Heal + garbage-collect one level (see class doc crash windows).
    * Idempotent; every stream batch runs it before reading. */
  def resume(levelDir: String): Unit = {
    val dir = PathIO.path(levelDir)
    if (!PathIO.exists(dir)) return
    val (live, _) = view(dir) // also validates pointer names
    val names = PathIO.listDir(dir)
    live match {
      case None =>
        // no commit: fold dirs are mid-write garbage, a pointer tmp the
        // leftover of a crashed publish (no fold is in flight while a
        // batch resumes its levels); epochs intact
        names.filter(p => p.getName.startsWith(FoldPrefix) || isPointerTmp(p.getName))
          .foreach(p => PathIO.deleteTree(p): Unit)
      case Some(p) =>
        require(PathIO.exists(PathIO.path(
            PathIO.child(dir, p.foldName).toString, s"epoch=${p.upTo}")),
          s"live pointer ${p.ptrName} names a missing fold dir in $dir")
        names.foreach { entry =>
          val n = entry.getName
          val subsumedEpoch = n.startsWith("epoch=") &&
            n.stripPrefix("epoch=").toLong <= p.upTo
          // older pointers, and pointer tmps of crashed publishes
          val stalePtr = n.startsWith(PtrPrefix) && n != p.ptrName
          val staleFold = n.startsWith(FoldPrefix) && n != p.foldName
          if (subsumedEpoch || staleFold) PathIO.deleteTree(entry): Unit
          else if (stalePtr) PathIO.deleteIfExists(entry): Unit
        }
    }
  }

  /** Fold every committed entry with epoch ≤ `upToEpoch` into one
    * consolidated fold dir, committed by pointer. No-op below two
    * sources. The fold is written flat while its sources are under one
    * input split (`spark.sql.files.maxPartitionBytes`), else bucketed
    * by `bucketCol`, the level's bucket column ([[writeRoot]]).
    *
    * `gcNow = false` defers the post-commit cleanup (deleting the
    * subsumed plain epoch dirs) to the NEXT [[resume]] call: the fold
    * then never deletes anything, so it can run CONCURRENTLY with
    * readers of the same level — a batch's index reads planned against
    * the pre-fold view keep their files until the next batch's resume.
    * This is exactly the documented "after the pointer, mid-cleanup"
    * crash window, held open deliberately for one batch. */
  def compact(spark: SparkSession, levelDir: String, bucketCol: String,
              upToEpoch: Long, gcNow: Boolean = true): Unit =
    fold(spark, levelDir, bucketCol, rebucketTo = None, Some(upToEpoch), gcNow)

  /** Bucket-fanout migration: fold EVERY committed entry, recomputing
    * the bucket column as `pmod(srcCol, newBuckets)` — proceeds even
    * from a single source (the point is the new fanout, not the fold)
    * and always writes bucketed, whatever the size.
    * OFFLINE op: run with the stream stopped (single-writer, like the
    * resize it implements). */
  def rebucket(spark: SparkSession, levelDir: String, bucketCol: String,
               srcCol: String, newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets $newBuckets must be >= 1")
    fold(spark, levelDir, bucketCol, rebucketTo = Some((srcCol, newBuckets)),
      upTo = None, gcNow = true)
  }

  private def fold(spark: SparkSession, levelDir: String, bucketCol: String,
                   rebucketTo: Option[(String, Int)],
                   upTo: Option[Long], gcNow: Boolean): Unit = {
    val dir = PathIO.path(levelDir)
    if (!PathIO.exists(dir)) return
    resume(levelDir) // finish/discard anything pending before folding
    val (live, plain) = view(dir)
    val sources = roots(dir, live, plain).filter(r => upTo.forall(r.epoch <= _))
    val minSources = if (rebucketTo.isDefined) 1 else 2
    if (sources.size < minSources) return
    val foldPoint = sources.map(_.epoch).max
    val next = Pointer(foldPoint, live.map(_.gen + 1).getOrElse(0L))
    val foldBase = PathIO.child(dir, next.foldName)
    PathIO.deleteTree(foldBase): Unit // unreachable name unless resume raced
    val foldData = PathIO.child(foldBase, s"epoch=$foldPoint")
    val groups = plan(spark, sources, footerSchema)
    union(groups.map(_.df)) match {
      case Some(sourceDf) =>
        // the fold dir IS the new epoch
        val input = sourceDf.drop("epoch")
        val (folded, flat) = rebucketTo match {
          case Some((srcCol, n)) => (input.drop(bucketCol)
            .withColumn(bucketCol, pmod(col(srcCol), lit(n.toLong))), false)
          case None => (input, groups.map(_.bytes).sum < BatchTune.splitBytes(spark))
        }
        writeRoot(folded, bucketCol, flat, foldData.toString)
      case None =>
        // every source wrote zero rows: commit an empty fold, its
        // `_SUCCESS` a manifest recording no files
        PathIO.writeString(PathIO.child(foldData, DirectCommitProtocol.SuccessName),
          DirectCommitProtocol.ManifestHeader)
    }
    // the commit: one atomicCreate of the pointer. Single-writer, so a
    // loss means a competing folder — fail loudly, never replace.
    if (!PathIO.atomicCreate(PathIO.child(dir, next.ptrName),
        next.foldName.getBytes("UTF-8")))
      sys.error(s"index fold pointer ${next.ptrName} already exists in " +
        s"$dir — concurrent compaction writers detected")
    // delete what the new pointer subsumes — unless the caller runs this
    // fold concurrently with same-level readers (gcNow = false), in
    // which case the next resume() performs the identical cleanup
    if (gcNow) resume(levelDir)
  }
}
