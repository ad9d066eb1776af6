package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Format-aware lake ingestion (reference S3/S4/W4 semantics,
  * Spark-first).
  *
  * Reference behaviors and their Spark re-expression:
  *  - JSON whole-file records (`utils/file/reader/json.py:8-12`: one
  *    file -> one opaque text record, empty files skipped) ->
  *    `wholetext` text source + length filter; or schema'd `json` for
  *    the analytic path.
  *  - CSV header capture/dedup (`utils/file/reader/csv.py:14-21`: first
  *    file's header kept, later files' headers dropped) -> Spark's csv
  *    source does per-file header skipping natively (`header=true`),
  *    and a written bundle re-emits the header per output file —
  *    reference W4's "self-describing bundle" for free.
  *  - Glob filter F1 -> `pathGlobFilter` (pushed into file listing, so
  *    pruned files are never opened).
  *  - mtime order S1 -> `_metadata.file_modification_time` sort.
  *
  * The batched-100-lines + 1 ms sleep throttling of the reference CSV
  * reader is a single-process pacing concern with no cluster
  * equivalent — cluster scheduling replaces cooperative sleep (SURVEY
  * §2.1 S4); deliberately not replicated.
  */
object Readers {

  /** Whole-file text records in (mtime, path) order with per-file
    * lineage columns — the compaction-path record stream.
    *
    * `tolerant=true` maps the reference's per-file error isolation (O1:
    * warn-and-continue on unreadable files, `collectors/local_lake.py:
    * 60-82`) to `ignoreCorruptFiles`/`ignoreMissingFiles` — a bad file
    * skips, the scan survives.
    *
    * `path` is spelled as `binaryFile` and every `Compactor` manifest
    * spell it (`file:/x/sp ace.json`), so it joins against them.
    * `_metadata.file_path` is the URI-encoded form
    * (`file:/x/sp%20ace.json`); it is decoded as a URI, not as a form:
    * a URI keeps `+` literal, so it is escaped before `url_decode`,
    * which would otherwise turn it into a space.
    */
  def wholeTextRecords(spark: SparkSession, root: String,
                       glob: Option[String] = None,
                       tolerant: Boolean = false): DataFrame = {
    val base = spark.read.option("wholetext", "true")
      .option("ignoreCorruptFiles", tolerant.toString)
      .option("ignoreMissingFiles", tolerant.toString)
    glob.fold(base)(g => base.option("pathGlobFilter", g)).text(root)
      .select(
        url_decode(regexp_replace(col("_metadata.file_path"), "\\+", "%2B"))
          .as("path"),
        col("_metadata.file_modification_time").as("mtime"),
        col("_metadata.file_size").as("size"),
        col("value").as("content"))
      .filter(length(col("content")) > 0)
  }

  /** A footer-inferred schema and the digest of the leaf-file listing
    * it was inferred over.
    */
  private[graft] final case class Inferred(files: String, schema: StructType)

  /** Footer-inferred parquet schemas per (session, path),
    * fingerprinted on the session's parquet-affecting SQL confs; the
    * listing is checked against each read's own ([[parquet]]).
    */
  private[graft] val schemas = new IndexMemo[String, Inferred]((spark, _) =>
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    })

  /** The file relation `df` reads. */
  private[graft] def fsRelation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.collect {
      case f: HadoopFsRelation => f
    }.getOrElse(throw new IllegalStateException(s"not a file read: ${df.queryExecution.analyzed}"))

  /** The leaf files `df`'s file index listed when the read was built:
    * Spark's own listing (its hidden-file rule, `pathGlobFilter`, its
    * parallel listing above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * directories), so taking it lists nothing again. A status's path
    * spells the file as `binaryFile`'s `path` column does.
    */
  private[graft] def leafFiles(df: DataFrame): Seq[FileStatus] =
    fsRelation(df).location match {
      case ix: PartitioningAwareFileIndex => ix.allFiles()
      case other => throw new IllegalStateException(
        s"file read resolved to $other, not a file index")
    }

  /** Whether a listed entry is a lake entry, not a side file: not `_`-
    * or `.`-prefixed, as Spark's file index hides metadata, staging and
    * checksum files. */
  private[graft] def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** The footer of the first [[visible]] non-empty file under `path`,
    * depth-first in listing order (`path` itself when it is such a
    * file), read on the driver: no Spark job. None when `path` is
    * missing or holds no such file.
    */
  private[graft] def firstFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def first(p: Path): Option[FileStatus] =
      fs.listStatus(p).iterator.filter(visible).flatMap { st =>
        if (st.isDirectory) first(st.getPath) else Option.when(st.getLen > 0)(st)
      }.nextOption()
    Option.when(fs.exists(root))(first(root)).flatten.map { st =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try new Footer(st.getPath, reader.getFooter) finally reader.close()
    }
  }

  /** The data schema `spark.read.parquet(path)` infers for a table whose
    * files share one schema (every column nullable), taken from
    * [[firstFooter]] as Spark's own inference converts a footer, but
    * without its job. None when `path` holds no data file.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    firstFooter(spark, path).map(f => nullable(ParquetFileFormat.readSchemaFromFooter(f,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))))

  /** Digest of the `(path, length, mtime)` [[leafFiles]] of `df`. */
  private def leafDigest(df: DataFrame): String =
    IndexMemo.digest(IndexMemo.listingLines(leafFiles(df)))

  private def inferred(df: DataFrame): Inferred = Inferred(leafDigest(df), df.schema)

  /** `spark.read.parquet(path)` for on-disk state that is read often
    * and rewritten rarely (serve paths). Without a schema every such
    * read runs one footer-inference job; here the inferred schema is
    * memoized per parquet-affecting conf (`spark.sql.parquet.*`,
    * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`) together
    * with the listing it was inferred over. A call reads with
    * `.schema(memoized)`, which runs no job, and keeps that read when
    * its own listing (path, length and mtime of each file) equals the
    * stored one; otherwise it falls back to exactly the plain read's
    * inference and stores the new schema. A hit lists the tree once,
    * as the plain read does. `path` is plain (no glob).
    *
    * Not for write paths whose listing changes on every pass: there
    * every call would miss and list twice.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val memo = schemas.getOrLoad(spark, path)(inferred(spark.read.parquet(path)))
    val df = spark.read.schema(memo.schema).parquet(path)
    if (leafDigest(df) == memo.files) df
    else {
      val plain = spark.read.parquet(path)
      schemas.replace(spark, path, inferred(plain))
      plain
    }
  }

  /** `df.write.mode("append").parquet(path)`, keeping this session's
    * [[schemas]] entry for `path` current, so the next [[parquet]] read
    * of `path` runs no footer inference. When the written schema equals
    * the memoized one up to nullability (Spark writes every parquet
    * column nullable) and the entry was current before the append (its
    * listing was the one on disk), the entry keeps its schema under the
    * new listing; otherwise the entry is dropped and the next read
    * infers. Single-writer: a file another writer lands during the
    * append would be covered by the kept schema.
    */
  def appendParquet(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    def listing(schema: StructType) = leafDigest(spark.read.schema(schema).parquet(path))
    val memo = schemas.get(spark, path)
    val current = memo.filter(m => listing(m.schema) == m.files)
    df.write.mode("append").parquet(path)
    current match {
      case Some(m) if nullable(m.schema) == nullable(df.schema) =>
        schemas.replace(spark, path, Inferred(listing(m.schema), m.schema))
      case _ => if (memo.nonEmpty) schemas.invalidate(path)
    }
  }

  /** `s` with every field, element and value nullable: the schema a
    * parquet footer read infers for files written with `s`. */
  private[graft] def nullable(s: StructType): StructType =
    nullable(s: DataType).asInstanceOf[StructType]

  /** `dt` with every field, element and value nullable. */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Schema'd CSV lake read with native per-file header dedup. */
  def csvLake(spark: SparkSession, root: String, schema: Option[StructType] = None,
              glob: Option[String] = None): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE") // reference O1: per-file error isolation
    val withSchema = schema.fold(base.option("inferSchema", "true"))(base.schema)
    glob.fold(withSchema)(g => withSchema.option("pathGlobFilter", g))
      .csv(root)
  }

  /** Schema'd JSON-lines / multiline JSON lake read. */
  def jsonLake(spark: SparkSession, root: String, schema: Option[StructType] = None,
               multiLine: Boolean = true, glob: Option[String] = None): DataFrame = {
    val base = spark.read.option("multiLine", multiLine.toString)
    val withSchema = schema.fold(base)(base.schema)
    glob.fold(withSchema)(g => withSchema.option("pathGlobFilter", g)).json(root)
  }

  /** Columnar ORC lake read (beyond-reference source breadth: the
    * reference reads JSON/CSV only). Self-describing like parquet, with
    * predicate pushdown and column pruning through the native reader.
    */
  def orcLake(spark: SparkSession, root: String, schema: Option[StructType] = None,
              glob: Option[String] = None): DataFrame = {
    val base = spark.read
    val withSchema = schema.fold(base)(base.schema)
    glob.fold(withSchema)(g => withSchema.option("pathGlobFilter", g)).orc(root)
  }
}
