package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side footer reads that plan a parquet transfer with no Spark
  * job: one footer per data file of a `<table>.parquet` source gives the
  * Spark schema (when every file carries the same one), the row count,
  * the key columns' NULL counts, and a single integer key's
  * per-row-group min/max.
  *
  * Every `Left` is a reason to fall back to the Spark planners; the
  * engine logs it verbatim. */
private[graft] object ParquetFooters {

  /** Spark writes its own schema under this footer key. */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** One non-empty, NULL-free row group's key range, in the key's Long
    * domain. */
  final case class KeyGroup(rows: Long, min: Long, max: Long)

  /** Row and NULL-key counts of a key, and (when it has no NULL) its
    * row groups sorted by min and disjoint on the key. */
  final case class KeyStats(rows: Long, nulls: Long, groups: Seq[KeyGroup])

  final case class Footers(metas: Seq[ParquetMetadata]) {
    def files: Int = metas.size
    def rowGroups: Int = metas.map(_.getBlocks.size).sum
    def rows: Long = metas.flatMap(_.getBlocks.asScala).map(_.getRowCount).sum

    /** The Spark schema every file carries, if they all carry the same
      * one (what `spark.read.parquet` would infer, before Spark makes it
      * nullable). */
    def schema: Option[StructType] = {
      val stored = metas.map(m => Option(
        m.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))).distinct
      stored match {
        case Seq(Some(json)) => Try(DataType.fromJson(json)).toOption.collect {
          case s: StructType => s
        }
        case _ => None
      }
    }

    /** NULLs in top-level columns `cols`, when every non-empty row group
      * carries their null counts. */
    def nulls(cols: Seq[String]): Option[Long] = {
      val counts = for {
        b <- metas.flatMap(_.getBlocks.asScala) if b.getRowCount > 0
        c <- cols
      } yield stats(b, c).map(_.getNumNulls)
      if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
    }

    /** Key statistics of top-level column `key`, or the reason they
      * cannot plan range chunks. */
    def keyStats(key: String): Either[String, KeyStats] = {
      val signedInt = metas.nonEmpty && metas.forall { m =>
        m.getFileMetaData.getSchema.getFields.asScala.find(_.getName == key).exists { t =>
          t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
          Set(PrimitiveTypeName.INT32, PrimitiveTypeName.INT64)
            .contains(t.asPrimitiveType.getPrimitiveTypeName) &&
          (t.getLogicalTypeAnnotation match {
            case null => true
            case i: IntLogicalTypeAnnotation => i.isSigned
            case _ => false
          })
        }
      }
      if (!signedInt) return Left(s"key '$key' is not a signed INT32/INT64 column")
      val blocks = metas.flatMap(_.getBlocks.asScala).filter(_.getRowCount > 0).map { b =>
        b -> stats(b, key).filter(s => s.hasNonNullValue || s.getNumNulls == b.getRowCount)
      }
      if (blocks.exists(_._2.isEmpty))
        return Left(s"a row group lacks statistics or a null count for key '$key'")
      val nulls = blocks.map(_._2.get.getNumNulls).sum
      val groups = if (nulls > 0) Nil else blocks.map { case (b, s) =>
        KeyGroup(b.getRowCount, s.get.genericGetMin.asInstanceOf[Number].longValue,
          s.get.genericGetMax.asInstanceOf[Number].longValue)
      }.sortBy(_.min)
      if (groups.zip(groups.drop(1)).exists { case (a, b) => b.min < a.max })
        Left(s"row groups overlap on key '$key'")
      else Right(KeyStats(blocks.map(_._1.getRowCount).sum, nulls, groups))
    }
  }

  /** Row group `b`'s statistics of top-level column `key`, when they
    * carry a null count. */
  private def stats(b: BlockMetaData, key: String): Option[Statistics[_]] =
    b.getColumns.asScala.find(_.getPath.toArray.toSeq == Seq(key))
      .flatMap(c => Option(c.getStatistics)).filter(_.isNumNullsSet)

  /** Reads the footer of every data file of `source` (a directory of
    * part files, or one file). Declines a directory holding any visible
    * entry that is not a regular `.parquet` file (a partition dir, a
    * summary file, a stray non-parquet file: Spark's read would see a
    * different table than the footers describe), and a file count above
    * `maxFiles` — footers are read serially on the driver. */
  def read(source: String, conf: Configuration, maxFiles: Int): Either[String, Footers] =
    Try(listAndRead(source, conf, maxFiles)).toEither.left
      .map(e => s"unreadable footers: ${e.getMessage}").flatten

  private def listAndRead(source: String, conf: Configuration,
                          maxFiles: Int): Either[String, Footers] = {
    val root = new Path(source)
    val fs = root.getFileSystem(conf)
    val top = fs.getFileStatus(root)
    val files =
      if (top.isFile) Seq(top)
      else fs.listStatus(root).toSeq.filter { f =>
        val n = f.getPath.getName
        !(n.startsWith("_") || n.startsWith(".")) ||
          n.startsWith("_metadata") || n.startsWith("_common_metadata")
      }
    files.find(f => !f.isFile || !f.getPath.getName.endsWith(".parquet")) match {
      case Some(f) =>
        Left(s"'${f.getPath.getName}' in the source dir is not a regular .parquet file")
      case None if files.size > maxFiles =>
        Left(s"${files.size} files exceed " +
          s"spark.sql.sources.parallelPartitionDiscovery.threshold ($maxFiles)")
      case None =>
        Right(Footers(files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
          try r.getFooter finally r.close()
        }))
    }
  }

  /** Upper bounds of `n` range chunks over [[KeyStats.groups]]. Bound j
    * sits at cumulative row ceil(j·rows/n): a row group's max where that
    * row ends the group, else interpolated between the group's min and
    * max by rank, in the key's Long domain. The bounds never decrease,
    * so `distinct` makes them strictly increasing; the last is the exact
    * key max. A bound only shapes chunk balance: the waves' `pk > lo AND
    * pk <= hi` filters decide which rows a chunk holds. */
  def rangeBounds(groups: Seq[KeyGroup], n: Int): Seq[Long] = {
    val total = BigInt(groups.map(_.rows).sum)
    val ends = groups.scanLeft(0L)(_ + _.rows).tail
    (1 to n).map { j =>
      val t = ((BigInt(j) * total + n - 1) / n).toLong
      val g = ends.indexWhere(_ >= t)
      val gr = groups(g)
      val rank = t - (ends(g) - gr.rows) // 1-based within the group
      if (rank == gr.rows) gr.max
      else (BigInt(gr.min) + BigInt(rank - 1) * (BigInt(gr.max) - gr.min) /
        (gr.rows - 1)).toLong
    }.distinct
  }
}
