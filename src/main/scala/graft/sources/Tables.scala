package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Table loaders for the star schema plus a CSV reader matching the
  * reference's ingest options.
  *
  * Reference: project-co2.py:87 (`header` + `inferSchema` CSV read) and
  * BigData_Mayur.py:20 (adds a custom `escape` char). Here parquet is the
  * primary format (columnar, splittable, predicate-pushdown-friendly —
  * what you want at 100 TB); CSV is kept for ingest parity.
  */
object Tables {

  val starTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Seeded md5 row-sample for the SAMPLED-ORACLE mode (r10, r9 verdict
    * item 6): `SPARK_GRAFT_TBL_SAMPLE="documents:doc_id:20,customer:
    * c_custkey:40"` restricts each named table to rows whose
    * md5("vsample:"+id) 2-hex-digit prefix is below the threshold
    * (here 32/256 = 12.5% and 64/256 = 25%). compare_oracle.py mirrors
    * the EXACT predicate into its DuckDB views (COMPARE_TBL_SAMPLE), so
    * engine and oracle run the full query logic — recursive closures
    * included — over the SAME seeded sub-corpus. This converts the sf1
    * brute-force-oracle timeouts (pairwise-jaccard and closure replays
    * whose DuckDB cost is quadratic-ish by design) from documented
    * skips into measured hash compares within the oracle budget.
    * Unset (the driver's case and every normal run): a no-op.
    */
  private lazy val tblSample: Map[String, (String, String)] =
    sys.env.get("SPARK_GRAFT_TBL_SAMPLE")
      .map(_.split(",").map { s =>
        // The threshold compares as a RAW STRING against a lowercase
        // 2-hex-digit md5 prefix, so normalize + validate here: an
        // uppercase or 1/3-digit spec would silently change selectivity
        // (r10 advisory). Fail loudly on anything malformed.
        s.split(":") match {
          case Array(t, c, thr) if thr.matches("(?i)[0-9a-f]{2}") =>
            t -> (c, thr.toLowerCase)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_TBL_SAMPLE entry '$s' is not " +
              "'table:idCol:hh' with hh exactly 2 hex digits")
        }
      }.toMap).getOrElse(Map.empty)

  /** Parquet read with a pinned schema: `spark.read.parquet(path)` runs
    * one schema-inference job on every call, `.schema(s)` runs none.
    * The schema comes from [[pinnedSchema]], so only the first load of
    * a file set (or the first after it changed) pays the inference job.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = pinnedSchema(spark, path)
      .fold(spark.read.parquet(path))(s => spark.read.schema(s).parquet(path))
    tblSample.get(name).fold(df) { case (idCol, thr) =>
      import org.apache.spark.sql.functions._
      df.filter(substring(
        md5(concat(lit("vsample:"), col(idCol).cast("string"))), 1, 2)
        < lit(thr))
    }
  }

  /** The session confs that change what parquet schema inference returns
    * for the same bytes. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class Pin(
      files: Seq[(String, Long, Long)], confs: Seq[Option[String]],
      schema: StructType)

  /** One pinned schema per table path, process-wide. */
  private val pins = new java.util.concurrent.ConcurrentHashMap[String, Pin]()

  /** Every file under a table path, recursively (a table is one parquet
    * file or a directory of them). */
  private def listing(spark: SparkSession, path: String)
      : (org.apache.hadoop.conf.Configuration, Vector[org.apache.hadoop.fs.FileStatus]) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val it = p.getFileSystem(conf).listFiles(p, true)
    (conf, Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toVector)
  }

  /** The inferred schema of the parquet file set at `path`, inferred at
    * most once per identity: every file's path, length and mtime, plus
    * the [[inferenceConfs]] values. A file rewritten in place or a
    * flipped conf misses and re-infers; a new session over unchanged
    * files hits. The session itself is not part of the key — the schema
    * is a function of the bytes and those confs only. None when the
    * path does not exist, so the caller's plain read raises Spark's
    * usual error.
    */
  private def pinnedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val files =
      try listing(spark, path)._2
      catch { case _: java.io.FileNotFoundException => return None }
    val ids = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
    val confs = inferenceConfs.map(spark.conf.getOption)
    val pin = pins.get(path)
    if (pin != null && pin.files == ids && pin.confs == confs) Some(pin.schema)
    else {
      val schema = spark.read.parquet(path).schema
      pins.put(path, Pin(ids, confs, schema))
      Some(schema)
    }
  }

  /** Right-size partitioning ahead of a CPU-heavy per-row kernel. A
    * single-file single-row-group table scans as ONE task, so the
    * kernel — not I/O — serializes the stage: a few MB of text can pin
    * a 32-core session to one core for seconds (measured: the fused
    * containment kernel at sf0.1). When the incoming split count is
    * below the session parallelism, round-robin the rows once; on a
    * real multi-file table (the 100 TB case, thousands of natural
    * splits) the condition is false and this is a no-op — the spread
    * never adds a shuffle where the source already parallelizes.
    *
    * A frame whose parquet footers ([[footerBound]]) prove at most
    * [[SpreadMinBytes]] uncompressed bytes is returned unchanged: below
    * that size the kernel on the scan's one task is no slower than the
    * round-robin exchange plus its extra tasks. Frames the footers
    * cannot bound keep the spread. The spread exists for speed only:
    * every caller's result is independent of its partition count.
    *
    * Only the kernels timed in [[SpreadMinBytes]]' table call this:
    * MinHash signatures, winnow anchors, the weak-label votes and the
    * quality score. Every other site calls [[roundRobinSpread]].
    */
  def spreadForKernel(df: DataFrame): DataFrame = {
    val spread = roundRobinSpread(df)
    // footers are read only for an under-split frame, never per file of
    // a many-split table
    if ((spread ne df) && footerBound(df).exists(_.bytes <= spreadMinBytes.value)) df
    else spread
  }

  /** [[spreadForKernel]] without the size gate: spreads every
    * under-split frame. For a kernel whose one-task crossover has not
    * been measured, and for the containment scan, whose cost per
    * document grows with the eval suite, which the corpus footers do
    * not bound. */
  def roundRobinSpread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Footer bytes up to which [[spreadForKernel]] leaves a frame on the
    * scan's own task. Measured warm on a 4-core host: kernel wall to a
    * noop sink (median of 15) on one task vs spread over 4, on
    * single-file cuts of the sf0.1 documents:
    * {{{
    * rows  footer KB  minhash     anchors     votes       quality    (s, one/spread)
    *  400     130     .087/.138   .055/.084   .082/.097   .077/.101
    *  500     161     .055/.065   .048/.070   .071/.082   .077/.084
    *  550     178     .061/.065   .054/.068   .080/.083   .086/.088
    *  600     194     .061/.062   .054/.072   .090/.083   .085/.083
    *  700     223     .062/.058   .048/.062   .085/.071   .095/.089
    * 1600     500     .096/.082   .072/.075   .160/.109   .154/.110  (median of 9)
    * }}}
    * so these four kernels cross between 178 and 194 KB. The
    * containment scan at q_contamination's 5% eval split is slower on
    * one task already at 161 KB (.094 vs .083 s) and faster at 130 KB
    * (.100 vs .121 s); it uses [[roundRobinSpread]], as do the kernels
    * not in this table.
    */
  val SpreadMinBytes: Long = 176L << 10

  /** Test hook: a negative value spreads every under-split frame, as
    * before the size gate (the specs check the gate changes no row). */
  private[graft] val spreadMinBytes = new scala.util.DynamicVariable[Long](SpreadMinBytes)

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The events table carries TIMESTAMP(NANOS) parquet timestamps, which
    * Spark 4 rejects outright. Sessions must set
    * `spark.sql.legacy.parquet.nanosAsLong=true` at build time (Bench,
    * Verify and the spec base all do) — the conf is intentionally NOT
    * mutated here: a loader silently flipping session-wide parquet
    * semantics would affect every later read. The long nanos are then
    * converted with integer division (ns ≈ 1.7e18 exceeds double's 2^53
    * exact range, so a floating divide would corrupt timestamps).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      // some generator versions write TIMESTAMP(MICROS, isAdjustedToUTC
      // =false) instead of nanos — that reads natively as TIMESTAMP_NTZ.
      // Normalize to session-zone TIMESTAMP so every consumer (windows,
      // watermarks, the DuckDB oracle under the UTC session zone) sees
      // ONE ts type regardless of which writer produced the file; under
      // the UTC session zone the cast is value-identity.
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Driver-side exact row count from parquet FOOTERS — no Spark job.
    * `df.count()` on a raw scan is metadata-only work too, but it still
    * schedules a job (a stage, tasks, a result collection); callers
    * that only need a row count to SIZE something (e.g. q_semdedup's
    * k=n/256) shouldn't put an action in their query's job graph.
    * Cost: one footer read per file, O(files) driver metadata I/O.
    */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long = {
    // sampled-oracle mode: corpus-sizing decisions (semdedup's k, the
    // adaptive LSH plane count) must see the SAMPLED cardinality, or
    // the engine would size for the full corpus while the mirrored
    // DuckDB oracle counts the sampled view — a real count() of the
    // sampled frame replaces the footer shortcut only in that mode
    if (tblSample.contains(name)) return load(spark, dir, name).count()
    val (conf, files) = listing(spark, s"$dir/$name.parquet")
    footerSums(files.filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))).rows
  }

  /** What parquet footers prove about a frame without a job: at most
    * `rows` rows, whose uncompressed row groups total `bytes`. */
  final case class FooterBound(rows: Long, bytes: Long)

  /** Summed record counts and uncompressed row-group sizes of `files`. */
  private def footerSums(files: Seq[org.apache.parquet.io.InputFile]): FooterBound =
    files.foldLeft(FooterBound(0L, 0L)) { (acc, in) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var bytes = 0L
        r.getRowGroups.forEach(g => bytes += g.getTotalByteSize)
        FooterBound(acc.rows + r.getRecordCount, acc.bytes + bytes)
      } finally r.close()
    }

  /** Upper bound on a frame's rows (and their uncompressed bytes)
    * derivable WITHOUT a job: when the plan is only
    * row-preserving-or-filtering operators over one parquet scan, the
    * summed footers of its files bound the result; a union is bounded
    * by the sum of its children's bounds. Conservative — any operator
    * that could EXPAND rows (join, explode), a union with an unbounded
    * child, or any other source returns None, and the caller falls back
    * to a real count or the distributed path.
    */
  def footerBound(df: DataFrame): Option[FooterBound] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    def walk(p: LogicalPlan): Option[FooterBound] = p match {
      case Project(_, c) => walk(c)
      case Filter(_, c) => walk(c)
      case SubqueryAlias(_, c) => walk(c)
      case u: Union =>
        u.children.foldLeft(Option(FooterBound(0L, 0L))) { (acc, c) =>
          for (sum <- acc; b <- walk(c)) yield FooterBound(sum.rows + b.rows, sum.bytes + b.bytes)
        }
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          try {
            val conf = df.sparkSession.sessionState.newHadoopConf()
            Some(footerSums(fs.location.inputFiles.toSeq.map(f =>
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new org.apache.hadoop.fs.Path(f), conf))))
          } catch { case scala.util.control.NonFatal(_) => None }
        case _ => None
      }
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Typed rows for the corpus tables — `Dataset[T]` with case-class
    * encoders where compile-time safety helps (pipeline code passing
    * documents through many stages); `DataFrame` stays the default for
    * dynamic-schema relational work.
    */
  final case class Document(
      doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  def documentsTyped(spark: SparkSession, dir: String): Dataset[Document] = {
    import spark.implicits._
    documents(spark, dir).as[Document]
  }

  def embeddingsTyped(spark: SparkSession, dir: String): Dataset[Embedding] = {
    import spark.implicits._
    embeddings(spark, dir).as[Embedding]
  }

  /** JSON-lines ingest. Same schema caveat as CSV: without an explicit
    * schema Spark runs a full inference pass over the data first.
    */
  def jsonLines(
      spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** JSONL ingest with an explicit malformed-line policy — the format
    * training corpora actually ship in, where a 100 TB landing zone
    * ALWAYS contains truncated/garbled lines. PERMISSIVE captures each
    * bad line intact in `corruptCol` (quarantine-able, nothing silently
    * dropped); DROPMALFORMED skips; FAILFAST aborts. The explicit
    * schema matters twice at scale: no inference pass, and PERMISSIVE
    * needs the corrupt-record column declared to retain bad lines.
    */
  def jsonLinesRobust(
      spark: SparkSession, path: String, schema: StructType,
      mode: String = "PERMISSIVE",
      corruptCol: String = "_corrupt_record"): DataFrame = {
    val withCorrupt =
      if (mode.equalsIgnoreCase("PERMISSIVE") &&
          !schema.fieldNames.contains(corruptCol))
        schema.add(StructField(corruptCol, StringType, nullable = true))
      else schema
    spark.read
      .schema(withCorrupt)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }

  /** STREAMING JSONL ingest with the same malformed-line policy dial as
    * [[jsonLinesRobust]] — the landing-zone reader as a `readStream`
    * source, so a continuously-arriving corpus gets the identical
    * quarantine semantics per micro-batch: PERMISSIVE retains each bad
    * line verbatim in `corruptCol` (route the non-null rows to a
    * quarantine sink), DROPMALFORMED skips them, FAILFAST fails the
    * QUERY (surfaced via `StreamingQuery.exception`, not a silent
    * stall). Schema is mandatory on streaming file sources anyway —
    * the no-inference discipline batch ingest opts into is forced here.
    */
  def jsonLinesRobustStream(
      spark: SparkSession, path: String, schema: StructType,
      mode: String = "PERMISSIVE",
      corruptCol: String = "_corrupt_record"): DataFrame = {
    val withCorrupt =
      if (mode.equalsIgnoreCase("PERMISSIVE") &&
          !schema.fieldNames.contains(corruptCol))
        schema.add(StructField(corruptCol, StringType, nullable = true))
      else schema
    spark.readStream
      .schema(withCorrupt)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)
  }

  /** CSV ingest with the reference's options. Prefer an explicit schema:
    * `inferSchema` forces an extra full pass over the data — fine on a
    * 270 KB CSV, catastrophic on 100 TB.
    */
  /** @param mode malformed-row policy: PERMISSIVE (nulls for bad
    *             fields), DROPMALFORMED (skip the row), FAILFAST
    *             (abort the job) — the ingest-robustness dial a 100 TB
    *             landing zone needs explicit (TablesSpec covers all 3).
    */
  def csv(
      spark: SparkSession,
      path: String,
      schema: Option[StructType] = None,
      header: Boolean = true,
      escape: String = "\"",
      inferSchema: Boolean = false,
      mode: String = "PERMISSIVE"): DataFrame = {
    val base = spark.read
      .option("header", header.toString)
      .option("escape", escape)
      .option("mode", mode)
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", inferSchema.toString).csv(path)
    }
  }
}
