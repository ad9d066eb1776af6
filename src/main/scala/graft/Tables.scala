package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Readers

/** Loaders for the driver-provided parquet tables (see TESTDATA.md /
  * FIXTURES.md §B). Every `SparkEntry.queries` entry receives the sf
  * directory and resolves tables through here so the scan is a plain
  * parquet `FileSourceScan` with pushdown/pruning intact. Reads go
  * through [[graft.operators.Readers.parquet]], so a table's footer is
  * inferred once per on-disk listing, not once per query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose consumers are expression-bound (tokenization, hashing,
    * vector math) rather than scan-bound. They ship as ONE parquet split
    * at test scale, which would pin every downstream computation to a
    * single task — redistribute at load. At cluster scale real corpora
    * arrive in many splits and the repartition cost is noise next to
    * the per-row compute; read directly with spark.read.parquet to opt
    * out.
    */
  private val computeHeavy = Set("documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = loadRaw(spark, dir, name)
    if (computeHeavy(name))
      df.repartition(spark.sessionState.conf.numShufflePartitions)
    else df
  }

  /** Load WITHOUT the compute-heavy spread — for operators that manage
    * their own exchange. `knnSketchRerank` repartitions the NARROW
    * (vec_id, sketch) frame; a load-time full-vector round-robin here
    * would be the exact 4×-the-bytes exchange the sketch pass exists
    * to avoid (the r13 weak mark).
    */
  def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir)
    else Readers.parquet(spark, s"$dir/$name.parquet")

  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark only reads as a
    * long via legacy nanosAsLong; without it the read fails with
    * `PARQUET_TYPE_ILLEGAL`) and plain TIMESTAMP(MICROS) (read natively
    * as a timestamp). The flag is set before the first read, and only
    * when a data file's footer annotates `ts` as NANOS (read on the
    * driver, so a NANOS table costs no failing job): every
    * [[graft.operators.Readers.parquet]] schema entry is
    * fingerprinted on the session's parquet confs, so setting it on
    * every session would make each memoized path infer its footer
    * again. Adapt on the observed type and expose BOTH `ts_ns: LONG`
    * (exact epoch ns — use for ordering/arithmetic, equal to DuckDB's
    * `epoch_ns(ts)`) and `ts` (timestamp — use for date math and
    * comparisons against the other timestamp columns). The ns→µs
    * truncation in the NANOS branch matches DuckDB's ns->µs cast
    * exactly; in the MICROS branch ts_ns is µs*1000, again equal to
    * DuckDB's epoch_ns. The epoch arithmetic is wall-clock
    * (timestampdiff against the NTZ epoch), so no session-timezone
    * dependence either way.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    val path = s"$dir/events.parquet"
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    if (!spark.conf.getOption(nanosAsLong).contains("true") && tsIsNanos(spark, path))
      spark.conf.set(nanosAsLong, "true")
    val raw = Readers.parquet(spark, path)
    raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) read as epoch-ns long
        raw.withColumn("ts_ns", col("ts"))
           .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS), no tz: wall-clock diff
        raw.withColumn("ts_ns", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case TimestampType => // TIMESTAMP(MICROS) with tz adjustment
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"events.ts: unsupported type $other")
    }
  }

  /** Whether `ts` is annotated TIMESTAMP(NANOS) in the footer of one of
    * the table's data files (the table itself when it is a single
    * file), [[Readers.firstFooter]]: read on the driver, so it starts
    * no Spark job. */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    Readers.firstFooter(spark, path).exists { f =>
      val schema = f.getParquetMetadata.getFileMetaData.getSchema
      schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
          case _ => false
        })
    }
  }

  /** Register all tables as temp views (for spark.sql paths / tests). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
