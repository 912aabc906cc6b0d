package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.graft.HadoopConfBridge
import org.apache.spark.sql.types.{BinaryType, LongType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.util.DriverRows

/** S6/S7: raw object reads as DataFrames.
  *
  * The reference streams object bytes (full or ranged GET,
  * /root/reference/src/main.rs:712-789). In-engine, a full read is the
  * `binaryFile` source (path, modificationTime, length, content); a
  * ranged read is a positioned read of just the requested bytes through
  * the Hadoop `FileSystem` (`open` + `readFully(pos, buf)`), as the
  * reference's ranged GET forwards only the `Range`: an 8-byte footer
  * fetch never reads the object, and objects past
  * `spark.sql.sources.binaryFile.maxLength` read too.
  *
  * Scale: binaryFile partitions by file; `spark.sql.files.maxPartitionBytes`
  * governs packing. Content is only materialized for selected rows —
  * filter on metadata first.
  */
object RawBytes {

  /** Full object scan: one row per file under `path`. */
  def read(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(path)

  /** HEAD-style metadata-only projection (no content materialization). */
  def head(spark: SparkSession, path: String): DataFrame =
    read(spark, path).select("path", "length", "modificationTime")

  /** Ranged read: bytes [start, start+len) of each object, mirroring HTTP
    * Range `bytes=a-b` with a = start, b = start+len-1. The result is
    * `df`'s columns without `content` (it is never read), plus
    * `range_content`, `range_start` and `range_len` =
    * `min(len, max(length - start, 0))`, the bytes actually returned; a
    * row with a null `path` or `length` gets null for both. `path` is a
    * Hadoop path string, as `binaryFile` writes it.
    *
    * A `binaryFile` relation whose listing Spark already holds on the
    * driver (as [[read]] returns it) reads on the driver when it lists at
    * most `spark.sql.sources.parallelPartitionDiscovery.threshold` files,
    * the point where Spark itself stops listing on the driver; the
    * answer is a local frame and no Spark job runs. Any other frame
    * reads with one `mapPartitions` over its `(path, length)` rows.
    * A negative `start` or `len` raises `IllegalArgumentException`. */
  def ranged(df: DataFrame, start: Long, len: Long): DataFrame = {
    require(start >= 0, s"ranged: start must be >= 0, got $start")
    require(len >= 0, s"ranged: len must be >= 0, got $len")
    driverRanged(df, start, len).getOrElse {
      val in = df.drop("content")
      val (pi, li) = (in.schema.fieldIndex("path"), in.schema.fieldIndex("length"))
      val conf = HadoopConfBridge.handle(
        df.sparkSession.sessionState.newHadoopConf())
      in.mapPartitions { it =>
        it.map { r =>
          val (bytes, n) =
            if (r.isNullAt(pi) || r.isNullAt(li)) (null, null)
            else {
              val n = rangeLen(r.getLong(li), start, len)
              (readRange(new Path(r.getString(pi)), conf.conf, start, n),
                java.lang.Long.valueOf(n))
            }
          Row.fromSeq(r.toSeq ++ Seq(bytes, start, n))
        }
      }(Encoders.row(StructType(in.schema.fields ++ rangeFields)))
    }
  }

  /** The columns [[ranged]] appends. */
  private val rangeFields = Seq(StructField("range_content", BinaryType),
    StructField("range_start", LongType, nullable = false),
    StructField("range_len", LongType))

  /** [[ranged]] over a driver-listed `binaryFile` relation, as a local
    * frame; None for any other frame. */
  private def driverRanged(df: DataFrame, start: Long,
                           len: Long): Option[DataFrame] =
    df.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[BinaryFileFormat] =>
          h.location match {
            case index: PartitioningAwareFileIndex =>
              val spark = df.sparkSession
              val files = index.listFiles(Nil, Nil)
                .flatMap(d => d.files.map(f => (d.values, f.fileStatus)))
              if (files.size > spark.sessionState.conf
                  .parallelPartitionDiscoveryThreshold) None
              else {
                val conf = spark.sessionState.newHadoopConfWithOptions(h.options)
                val out = l.output.filterNot(_.name == "content")
                val parts = h.partitionSchema.fieldNames
                val rows = files.map { case (pv, st) =>
                  val n = rangeLen(st.getLen, start, len)
                  InternalRow.fromSeq(out.map(a => a.name match {
                    case _ if parts.contains(a.name) =>
                      pv.get(parts.indexOf(a.name), a.dataType)
                    case "path" => UTF8String.fromString(st.getPath.toString)
                    case "modificationTime" => st.getModificationTime * 1000L
                    case "length" => st.getLen
                  }) ++ Seq(readRange(st.getPath, conf, start, n), start, n))
                }
                Some(DriverRows.frame(spark, out ++ rangeFields.map(f =>
                  AttributeReference(f.name, f.dataType, f.nullable)()), rows))
              }
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

  /** The HTTP `bytes=a-b` clamp: the bytes of [start, start+len) that
    * lie inside an object of `length` bytes. */
  private def rangeLen(length: Long, start: Long, len: Long): Long =
    math.min(len, math.max(length - start, 0L))

  /** `n` bytes at `start` of the file, by one positioned read. */
  private def readRange(path: Path, conf: org.apache.hadoop.conf.Configuration,
                        start: Long, n: Long): Array[Byte] = {
    if (n > Int.MaxValue - 8)
      throw new IllegalArgumentException(
        s"ranged: $n bytes of $path do not fit one array")
    val buf = new Array[Byte](n.toInt)
    if (n > 0) {
      val in = path.getFileSystem(conf).open(path)
      try in.readFully(start, buf) finally in.close()
    }
    buf
  }
}
