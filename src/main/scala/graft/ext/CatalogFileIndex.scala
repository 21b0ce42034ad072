package graft.ext

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * A [[FileIndex]] over a known file set of the streaming-index epoch
 * layout — how [[IndexIO]] plans every persisted-index read. Spark's
 * default partition discovery LISTs every epoch directory AND every
 * bucket subdirectory under every read root on every batch (a
 * parallel-listing job once a root holds more than 32 bucket dirs) and
 * infers the data schema from a footer in one more job per basePath
 * group; the round-15 `os_stream` cost record measured LIST/batch
 * growing ~+103 per live epoch between folds — O(epochs × buckets)
 * requests to plan a read that then PRUNES most of what was listed.
 * [[IndexIO]] already knows each committed root's file set (the
 * direct-commit `_SUCCESS` manifest, one GET; otherwise one driver-side
 * walk), so this index feeds those files straight into a
 * [[HadoopFsRelation]] — no Spark job and no further LIST or HEAD at
 * scan planning, with partition pruning evaluated natively against the
 * recorded `(epoch, bucket)` values (the same name-bound predicate
 * form Spark's own `PartitioningAwareFileIndex` uses). The reference's
 * cold tier reads the same way — an index block enumerating immutable
 * data blocks, never a directory listing (tiered-storage/jcloud/.../
 * OffloadIndexBlockImpl.java).
 */
private[ext] object CatalogFileIndex {

  /** One committed data file: partition values in `partCols` order
    * (all LongType in this layout), absolute path, size in bytes. */
  final case class Entry(partValues: Seq[Long], path: Path, size: Long)

  /** Parse one root-relative file path into (partition col names,
    * values) from its `k=v` directory segments; None when a segment
    * isn't a `name=long` pair. */
  def parseRel(rel: String): Option[(Seq[String], Seq[Long])] = {
    val segs = rel.split('/').toSeq.dropRight(1)
    val parsed = segs.map { s =>
      s.split('=') match {
        case Array(k, v) if k.nonEmpty && v.nonEmpty && v.forall(_.isDigit) =>
          Some((k, v.toLong))
        case _ => None
      }
    }
    if (parsed.contains(None)) None
    else Some((parsed.flatten.map(_._1), parsed.flatten.map(_._2)))
  }

  /** Assemble the catalog DataFrame: files grouped into partition
    * directories keyed by their recorded values, typed by `partCols`
    * (epoch first, then the level's bucket column; nullable, as
    * discovered partition columns are, so `epoch <` filters infer the
    * `isnotnull(epoch)` PartitionFilter), with `dataSchema` supplied by
    * the caller. `rootPaths` are the read roots the plan's `Location`
    * shows. */
  def relation(spark: SparkSession, rootPaths: Seq[Path], partCols: Seq[String],
               entries: Seq[Entry], dataSchema: StructType): DataFrame = {
    val partSchema = StructType(partCols.map(c =>
      StructField(c, LongType, nullable = true)))
    val index = new CatalogFileIndex(rootPaths, partSchema, entries)
    // everything nullable, as footer-inferred reads are (asNullable is
    // private[sql]; the caller's `like` frame may carry tighter marks)
    val dataNullable = StructType(dataSchema.fields.map(_.copy(nullable = true)))
    val rel = HadoopFsRelation(index, partSchema, dataNullable,
      bucketSpec = None, new ParquetFileFormat(), options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }
}

private[ext] final class CatalogFileIndex(
    override val rootPaths: Seq[Path],
    override val partitionSchema: StructType,
    entries: Seq[CatalogFileIndex.Entry]) extends FileIndex {

  private val groups: Seq[PartitionDirectory] =
    entries.groupBy(_.partValues).toSeq.sortBy(_._1.mkString(","))
      .map { case (values, fs) =>
        PartitionDirectory(
          InternalRow.fromSeq(values),
          fs.map(e => new FileStatus(e.size, false, 1, 128L * 1024 * 1024,
            0L, e.path)).toArray)
      }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) groups
    else {
      // name-bound interpretation, the PartitioningAwareFileIndex form:
      // only partition columns can appear here, and they bind by NAME
      // (the relation's attribute ids are not ours to know)
      val predicate = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      predicate.initialize(0)
      groups.filter(p => predicate.eval(p.values))
    }

  override def inputFiles: Array[String] = entries.map(_.path.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = entries.map(_.size).sum
}
