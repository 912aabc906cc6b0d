package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, EvalMode, Expression, GenericRowWithSchema, Literal,
  Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One live data file as the transaction log records it: the add
  * action's path (table-relative, or absolute for shallow-cloned
  * files), its deletion-vector ref (the snapshot's `dv_path`), and the
  * three columns a scan needs to plan without touching the store —
  * `size`, `modificationTime` and `partitionValues`. `size` is None only
  * where a caller has no add action to read it from; the index then
  * stats that one file. */
final case class LogFile(path: String, dv: Option[String],
                         size: Option[Long], modificationTime: Option[Long],
                         partitionValues: Map[String, String])

object LogFile {
  /** The snapshot columns a scan plans from. */
  val columns: Seq[Column] =
    Seq("path", "dv_path", "size", "modificationTime", "partitionValues")
      .map(col)

  /** The schema of the change feeds' action rows: `ddl` names the
    * columns before the add's size, modificationTime and
    * partitionValues, the add's own as `path` and `dv_path`. The rows
    * carry it (see [[feedRow]]), so [[of]] reads them by name. */
  def feedSchema(ddl: String): StructType = StructType.fromDDL(ddl +
    ", size BIGINT, modificationTime BIGINT, partitionValues MAP<STRING, STRING>")

  def feedRow(schema: StructType, values: Seq[Any]): Row =
    new GenericRowWithSchema(values.toArray, schema)

  /** The files of a frame that carries [[columns]]: driver rows (the
    * driver replay's snapshot and what [[MiniDelta.filesForFilters]]
    * keeps of it) are read in place, any other frame is collected. */
  def ofFrame(df: DataFrame): Seq[LogFile] =
    of(graft.util.DriverRows.of(df).fold[Seq[Row]](
      df.select(columns: _*).collect().toIndexedSeq)(graft.util.DriverRows.rows))

  /** The files of rows that carry [[columns]], found by name: snapshot
    * and manifest rows, and the change feeds' action rows. */
  def of(rows: Seq[Row]): Seq[LogFile] = rows.map { r =>
    def opt[T](name: String): Option[T] = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    }
    LogFile(r.getAs[String]("path"), opt[String]("dv_path"),
      opt[Long]("size"), opt[Long]("modificationTime"),
      opt[scala.collection.Map[String, String]]("partitionValues")
        .fold(Map.empty[String, String])(_.toMap))
  }
}

/** A Spark [[FileIndex]] over a snapshot's file list, straight from the
  * log — the Delta design (VLDB 2020 §3): the log already names every
  * live file with its size and partition values, so a read never LISTs
  * the object store. `spark.read.parquet(paths)` re-lists every path it
  * is given (a parallel listing job past 32 paths); this index plans the
  * scan from the log rows alone.
  *
  * Contract:
  *  - partition rows are typed by `partitionSchema` (the declared
  *    partition columns; physical names on mapped tables); each log
  *    value is parsed by an ANSI `Cast` under the session time zone,
  *    and a null value — or Hive's `__HIVE_DEFAULT_PARTITION__`, which
  *    directory-layout writers record for null — is null;
  *  - [[listFiles]] prunes on the partition filters itself: the scan
  *    strategy does not re-apply them after listing;
  *  - [[rootPaths]] are the qualified file paths, exactly what a
  *    path-based reader would have been handed — ACL enforcement keys
  *    on them;
  *  - [[refresh]] is a no-op: a snapshot is immutable. */
final class LogFileIndex(spark: SparkSession, table: String,
                         files: Seq[LogFile],
                         override val partitionSchema: StructType)
    extends FileIndex {

  private val statuses: IndexedSeq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val raw = new Path(LogFileIndex.resolve(table, f.path))
      val fs = raw.getFileSystem(conf)
      val p = fs.makeQualified(raw)
      f.size match {
        case Some(len) =>
          new FileStatus(len, false, 0, 0L, f.modificationTime.getOrElse(0L), p)
        case None => fs.getFileStatus(p) // a stat, never a listing
      }
    }.toIndexedSeq
  }

  /** Distinct partition rows, each with its files, in first-seen
    * order. */
  private val partitions: IndexedSeq[(InternalRow, IndexedSeq[FileStatus])] = {
    val tz = Some(spark.conf.get("spark.sql.session.timeZone"))
    val rows = files.zip(statuses).map { case (f, st) =>
      val values = partitionSchema.fields.map { field =>
        val raw = f.partitionValues.find(_._1 == field.name)
          .orElse(f.partitionValues.find(_._1.equalsIgnoreCase(field.name)))
          .map { case (k, v) => LogFileIndex.unescapeLegacy(f.path, k, v) }
          .orNull
        if (raw == null || raw == LogFileIndex.HiveDefault) null
        else
          try Cast(Literal(raw), field.dataType, tz, EvalMode.ANSI).eval()
          catch { case e: Exception =>
            throw new IllegalStateException(
              s"$table: partition value '$raw' of column ${field.name} " +
                s"(${field.dataType.simpleString}) on ${f.path} does not " +
                "parse", e)
          }
      }
      (InternalRow.fromSeq(values.toSeq), st)
    }
    val order = rows.map(_._1).distinct
    val grouped = rows.groupBy(_._1)
    order.map(r => (r, grouped(r).map(_._2).toIndexedSeq)).toIndexedSeq
  }

  override val rootPaths: Seq[Path] = statuses.map(_.getPath)

  /** The first file's status — the footer a schema-less read infers
    * its data columns from. */
  def firstStatus: Option[FileStatus] = statuses.headOption

  override def inputFiles: Array[String] = rootPaths.map(_.toString).toArray

  override val sizeInBytes: Long = statuses.map(_.getLen).sum

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val keep: InternalRow => Boolean =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) _ => true
      else {
        val bound = Predicate.createInterpreted(
          partitionFilters.reduce(And(_, _)).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fields
                .indexWhere(_.name.equalsIgnoreCase(a.name))
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        bound.initialize(0)
        bound.eval
      }
    partitions.collect {
      case (row, sts) if keep(row) => PartitionDirectory(row, sts.toArray)
    }
  }

  // two indexes over the same log rows are the same relation (cached
  // frames must match a re-built read of the same snapshot)
  private lazy val identity = (table, files.toSet, partitionSchema)

  override def equals(o: Any): Boolean = o match {
    case l: LogFileIndex => l.identity == identity
    case _ => false
  }

  override def hashCode: Int = identity.hashCode

  override def toString: String = s"LogFileIndex($table, ${files.size} files)"
}

object LogFileIndex {
  /** Spark's directory name for a null partition value. */
  val HiveDefault = "__HIVE_DEFAULT_PARTITION__"

  /** A partition value as this engine logged it before it recorded
    * values unescaped: the file's own `key=value` directory segment
    * verbatim (`a%2Fb` for `a/b`, `01%3A30%3A00` for `01:30:00`). Only
    * that writer logs a value identical to its escaped directory name —
    * any other writer logs the value itself, whose directory then reads
    * differently — so such a value reads unescaped, as the
    * path-inferring reader of those tables returned it. */
  def unescapeLegacy(path: String, key: String, value: String): String =
    if (value == null || !value.contains('%')) value
    else {
      val plain = ExternalCatalogUtils.unescapePathName(value)
      if (plain != value && path.split("/").dropRight(1)
          .contains(s"$key=$value")) plain
      else value
    }

  /** A log path against its table root: the Delta protocol allows
    * ABSOLUTE paths in add actions (how shallow clones reference the
    * source table's files without copying them); relative paths
    * resolve under the table directory. */
  def resolve(table: String, rel: String): String =
    if (rel.startsWith("/") || rel.contains("://")) rel
    else s"$table/$rel"

  /** The parquet scan of `files` on `session` — the one way a table's
    * data is read. `readSchema` lists data and partition columns in
    * declared order (the frame keeps that order, then `extra`);
    * partition columns are its fields named by any file's partition
    * values. A table with no declared schema reads the first file's
    * footer schema plus its partition keys as strings. A missing file
    * fails the scan by name (`ignoreMissingFiles` is pinned off: the log
    * says the file is live). */
  def scan(session: SparkSession, table: String, files: Seq[LogFile],
           readSchema: Option[StructType],
           extra: Seq[Column] = Nil): DataFrame = {
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val keys = files.flatMap(_.partitionValues.keys).distinct
    val isKey = keys.map(lower).toSet.compose(lower)
    // every level nullable, as Spark's own file sources declare their
    // schemas: a file predating a NOT NULL column reads it as null
    def nullable(fields: Seq[StructField]) =
      MiniDelta.nullify(StructType(fields)).asInstanceOf[StructType]
    val partitionSchema = nullable(readSchema.fold(
      keys.map(StructField(_, StringType)))(_.fields.filter(f => isKey(f.name)).toSeq))
    val index = new LogFileIndex(session, table, files, partitionSchema)
    val dataSchema = readSchema.getOrElse(new ParquetFileFormat()
      .inferSchema(session, Map.empty, index.firstStatus.toSeq)
      .getOrElse(StructType(Nil)))
    val relation = HadoopFsRelation(index, partitionSchema,
      nullable(dataSchema.fields.filterNot(f => isKey(f.name)).toSeq),
      None, new ParquetFileFormat, Map("ignoreMissingFiles" -> "false"))(
      session)
    val df = org.apache.spark.sql.graft.DatasetShim.ofRows(session,
      LogicalRelation(relation))
    val cols = readSchema.fold(df.columns.toSeq)(_.fieldNames.toSeq)
    df.select(cols.map(n => col(s"`$n`")) ++ extra: _*)
  }
}
