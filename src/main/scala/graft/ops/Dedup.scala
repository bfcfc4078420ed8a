package graft.ops

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{HashKernels, exprs}

/** Corpus deduplication at training-data scale: exact, MinHash+LSH,
  * SimHash, embedding-cosine. The common scale pattern everywhere:
  * NEVER form the O(n²) pair space — hash every row into buckets
  * (band-hash / bit-chunk / hyperplane sign), shuffle once on the bucket
  * key, and compare only within buckets. Verification (exact Jaccard /
  * hamming / cosine) runs only on candidate pairs.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content: one survivor (min id) per distinct text.
    * Single hash-aggregate shuffle on the text. For very wide documents,
    * group by [[exactByFingerprint]] instead so only 8-byte keys shuffle.
    */
  def exactByText(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(col(textCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Exact dedup shuffling only a ~24-byte key (64-bit rolling hash +
    * 128-bit md5), not the document — at 100 TB the shuffle width is the
    * cost, so hash first. The two independent hashes make a false merge
    * of distinct texts require a simultaneous collision in both
    * (~n²/2^192): effectively identical output to grouping by the text
    * itself, at a fraction of the exchange volume.
    */
  def exactByFingerprint(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .withColumn("fp", exprs.rolling_hash(col(textCol)))
      .withColumn("fp_md5", md5(col(textCol)))
      .groupBy(col("fp"), col("fp_md5"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------- MinHash + LSH

  final case class MinhashParams(
      shingleN: Int = 5, numHashes: Int = 64, bands: Int = 16, seed: Long = 42L,
      jaccardThreshold: Double = 0.8,
      // width of the pre-verify estimate cut, in estimator sigmas below
      // jaccardThreshold (σ ≤ 1/(2√numHashes)). Larger = lower cut =
      // fewer residual false negatives but weaker pruning; a very large
      // value (e.g. 1e9) effectively disables the est-filter and
      // verifies every banding candidate.
      estFilterSigmas: Double = 4.0,
      // band buckets LARGER than this are sub-refined on 2-byte digest
      // blocks before pair emission (see [[BucketRefine]] — lossless
      // whenever the est cut exceeds 1/2, which the default parameters
      // give; set ≤ 0 to disable). Sized above any genuinely-similar
      // duplicate family yet below the corpus-growing collision buckets
      // of boilerplate/replicated corpora.
      heavyBucketCap: Int = 512) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(estFilterSigmas >= 0.0, "estFilterSigmas must be non-negative")
    def rowsPerBand: Int = numHashes / bands
    /** The pre-verify estimate cut, jaccardThreshold − estFilterSigmas·σ
      * with σ ≤ 1/(2√numHashes) (see [[minhashNearDupPairs]]). */
    def estCut: Double = math.max(0.0,
      jaccardThreshold - estFilterSigmas / (2.0 * math.sqrt(numHashes.toDouble)))
    /** Whether buckets above heavyBucketCap are sub-keyed on 2-byte
      * digest blocks ([[BucketRefine]]): only when that is lossless. */
    def refinesHeavyBuckets: Boolean =
      heavyBucketCap > 0 && BucketRefine.lossless(numHashes, estCut)
  }

  /** Corpora whose parquet footers prove at most this many rows (and
    * [[LocalFunnelMaxBytes]] uncompressed bytes) run the near-dup funnel
    * on the driver; see [[minhashNearDupPairs]]. Measured on 4 cores
    * (funnel + labels, warm median): 5k docs 0.63 s driver vs 2.46 s
    * distributed, 20k 1.83 vs 3.53 s, 80k 7.36 vs 9.37 s, 160k 15.96 vs
    * 17.43 s, so the crossover there is near 160k docs. The driver
    * pass is one thread while the distributed one scales with cores,
    * so the bound is an eighth of that crossover.
    */
  private val LocalFunnelMaxRows: Long = 20000L
  /** Caps the uncompressed bytes one collect may bring to the driver
    * (20k sf-style docs are ~6 MB), so a few huge docs cannot. */
  private val LocalFunnelMaxBytes: Long = 32L << 20
  /** Caps the candidate and verified pairs the driver pass may hold:
    * a family of m copies is m(m-1)/2 pairs, so a few thousand copies
    * of one page in a small file would otherwise fill the driver heap.
    * Past the cap the corpus takes the distributed funnel, which
    * checkpoints its pairs. Eight partners per doc at the row bound. */
  private val LocalFunnelMaxPairs: Int = 8 * LocalFunnelMaxRows.toInt

  /** Near-duplicate pairs via MinHash banding, verified with exact
    * n-gram Jaccard.
    *
    * Plan shape (per 100 TB posture):
    *  1. one scan computing the k-hash signature per doc (single-pass
    *     custom expression, stays in WholeStageCodegen);
    *  2. explode to `bands` rows/doc keyed by (band, hash-of-band-slice)
    *     — the ONLY data that shuffles is (key, doc_id, 64 B digest);
    *  3. self-join on the band key = raw candidates (skew note: a
    *     degenerate band bucket is capped upstream by signature
    *     entropy; AQE skew join handles the rest);
    *  4. est-FILTER the raw candidates on MinHash signature agreement
    *     IN the banding join's projection, via the one-byte-per-hash
    *     digest each bucket row carries (the Jaccard estimator, cut 4σ
    *     under the threshold) — banding alone admits ~0.5-Jaccard
    *     pairs, which on boilerplate-heavy corpora is almost everything
    *     (measured sf0.1: 199,505 raw candidates, 256 true pairs); the
    *     estimate costs 64 byte compares per pair, evaluated before ANY
    *     pair-level exchange, so no shuffle anywhere in the funnel
    *     scales with the raw candidate count;
    *  5. join the SURVIVING ids back to the SOURCE, computing shingle
    *     sets only for plausible docs, and verify exact Jaccard.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * NOTHING corpus-sized is ever cached: the r2/r3 shape persisted
    * (signature, shingle-set) for every doc so the verify could reuse
    * it — but exploded shingle sets are ~10× the corpus, which is
    * uncacheable at 100 TB and was ~half the query's wall-clock even at
    * sf0.1 (materializing 5000 string arrays into the memory store).
    * Verify-worthy candidates are rare AFTER the est-filter, so the
    * scale-correct verify is a second source scan joined to the
    * surviving ids (AQE sees the tiny runtime size and broadcasts),
    * shingling only matched rows. Cost: one extra corpus scan; only
    * signature- and funnel-sized frames are staged.
    *
    * Staging: the filtered candidate pairs and candidate shingle sets
    * are staged ([[Staging]]; each feeds two+ consumer branches) in the
    * operator's own [[Staging.scoped]] scope, which releases them before
    * return (the signature frame needs no staging — the banding
    * self-join reuses one exchange, so the kernel runs once per doc
    * with no second consumer); the verified
    * pair set — the small funnel output downstream closure loops and
    * anti-joins reuse — is an eager localCheckpoint, so nothing this
    * operator persists stays registered in the session cache after it
    * returns.
    *
    * Small corpus: when `docs` is a plain parquet scan (projections and
    * filters only) with integral ids and string text whose footers prove
    * at most `localMaxRows` rows and [[LocalFunnelMaxBytes]] uncompressed
    * bytes, the same funnel runs on the driver: one collect of
    * (id, text), then the very [[HashKernels]] functions the expressions
    * above call, band keys by the same xxhash64 fold, the same estimate
    * cut and heavy-bucket sub-keying, and the same exact verify. The
    * rows are identical; the result is a local relation, so it needs no
    * checkpoint. At that size the distributed funnel is nearly all
    * Spark's fixed cost per job (about 20 jobs and their planning and
    * codegen), not kernel work. A corpus whose candidate or verified
    * pairs pass [[LocalFunnelMaxPairs]] (a large family of copies)
    * leaves the driver pass and takes the distributed funnel. Frames
    * the footers cannot bound (in-memory frames, joins, spread or
    * repartitioned plans) always take the distributed path;
    * `localMaxRows = 0` forces it.
    */
  def minhashNearDupPairs(
      docs: DataFrame, textCol: String, idCol: String,
      p: MinhashParams = MinhashParams(),
      localMaxRows: Long = LocalFunnelMaxRows): DataFrame =
    minhashNearDupPairs(docs, textCol, idCol, p, localMaxRows, probe = None)

  /** The funnel itself. With a `probe` (a non-null Boolean column of
    * `docs`), a pair is emitted only when at least one of its rows has
    * it set: the check sits in the driver pass's emit and in the banding
    * self-join's condition, ahead of the estimate cut, the verify and
    * the distinct ([[incrementalNearDups]]'s delta-vs-corpus pairs).
    * With none, every pair is a candidate.
    */
  private def minhashNearDupPairs(
      docs: DataFrame, textCol: String, idCol: String, p: MinhashParams,
      localMaxRows: Long, probe: Option[String]): DataFrame = {
    val local =
      if (localMaxRows > 0 && integralType(docs.schema(idCol).dataType) &&
          docs.schema(textCol).dataType == StringType &&
          graft.sources.Tables.footerBound(docs)
            .exists(b => b.rows <= localMaxRows && b.bytes <= LocalFunnelMaxBytes))
        localMinhashPairs(docs, textCol, idCol, p, probe)
      else None
    if (local.isDefined) return local.get
    // spread above Tables.SpreadMinBytes: the signature kernel must not
    // serialize on a one-split scan of a larger corpus.
    // Bucket rows carry (id, band-hash, DIGEST) — the full 64-long
    // signature never leaves the map side. sig_digest keeps one byte per
    // hash position (64 B vs 520 B), so the banding exchange stays
    // corpus-linear at ~90 B/row · bands; the self-join reuses that ONE
    // exchange for both sides, so the signature kernel runs once per doc.
    // The probe flag, if any, rides along with the id as `pf`.
    val keyCols = col("id") +: probe.map(_ => col("pf")).toSeq
    val sigged = graft.sources.Tables.spreadForKernel(docs).select(
      (col(idCol).as("id") +: probe.map(c => col(c).as("pf")).toSeq) :+
        exprs.minhash_sig(col(textCol), p.shingleN, p.numHashes, p.seed).as("sig"): _*)
    val bandCols = (0 until p.bands).map { i =>
      struct(lit(i).as("band"),
        xxhash64(slice(col("sig"), i * p.rowsPerBand + 1, p.rowsPerBand)).as("bh"))
    }
    val buckets = sigged
      .select(keyCols ++ Seq(exprs.sig_digest(col("sig")).as("dg"),
        explode(array(bandCols: _*)).as("b")): _*)
      .select(keyCols ++ Seq(col("dg"), col("b.band").as("band"), col("b.bh").as("bh")): _*)

    // PRE-VERIFY est-filter — the step that keeps the funnel "rare by
    // construction" honest on boilerplate-heavy corpora. Banding's
    // collision threshold ((1/bands)^(1/rowsPerBand) ≈ 0.5 at 16×4)
    // sits far below jaccardThreshold, so template-sharing corpora
    // produce candidate sets dominated by ~0.2-Jaccard pairs (measured
    // at sf0.1: 199,505 candidates spanning 98% of docs, of which 256
    // are true ≥0.8 pairs). Filtering on the MinHash Jaccard ESTIMATE
    // (digest agreement — 64 byte-compares, computed IN the banding
    // join's projection) collapses the funnel before any pair-level
    // shuffle: only survivors reach the distinct, and no
    // pair-count-scaled shuffle exists anywhere in the funnel (joining
    // full signatures onto the raw candidates would push
    // candidates×520 B through two exchanges, ~130 GB at 5M docs).
    // Cut = threshold − estFilterSigmas·σ with σ ≤ 1/(2√k) (default
    // 4σ): a true threshold pair falls below it w.p. ~3e-5 PER PAIR, so
    // the output is banding ∘ est-filter ∘ exact-verify — NOT exactly
    // banding ∘ exact-verify. That residual false-negative probability
    // composes with banding's own misses (which dominate: a 0.8-Jaccard
    // pair escapes 16×4 banding w.p. ~2%). The digest estimate is
    // strictly ≥ the full-signature estimate (byte equality ⊇ long
    // equality, bias ≤ (1−est)/256), so moving to digests only ADMITS
    // borderline pairs — the exact verify still decides membership for
    // every pair that reaches it. Widen estFilterSigmas if the residual
    // matters more than the pruning.
    // shuffle_hash: bucket keys are near-unique 8-byte hashes (probe
    // max bucket ~1.8k at 5M docs); a sort-merge join would sort the
    // ~bands·corpus row stream twice for buckets a hash map walks —
    // the same call as the span family's anchor join.
    val estCut = p.estCut
    // HEAVY-BUCKET SUB-REFINEMENT ([[BucketRefine]]): buckets whose
    // size exceeds the cap are re-keyed per 2-byte digest block, so the
    // corpus-growing collision buckets of replicated/boilerplate corpora
    // emit ~n·32 sub-key rows instead of C(n,2) pairs — lossless w.r.t.
    // the est-filter because its cut > 1/2 forces every surviving pair
    // to agree on ≥ one full block. Plan shape: ONE (band, bh)-keyed
    // exchange feeds the heavy-key aggregate (same key), the broadcast
    // flag join and both sides of the self-join on (band, bh, sk).
    // Hash partitioning on the (band, bh) subset already co-locates
    // every (band, bh, sk) match, and bh is a near-unique 8-byte hash,
    // so the subset keys carry no extra skew; Spark 4 by default
    // demands children partitioned on ALL join keys and would add a
    // second corpus×bands exchange, so the funnel's own actions run
    // with spark.sql.requireAllClusterKeysForCoPartition=false
    // (SPARK-35703; set and restored below), while the returned frame
    // is a checkpoint scan whose consumers plan under the caller's
    // conf. The per-partition hash build stays keyed on the FULL join
    // key, so heavy-bucket probes never walk a whole bucket.
    val refine = p.refinesHeavyBuckets
    val joinSide =
      if (!refine) buckets.withColumn("sk", lit(-1L))
      else {
        val bucketsP = buckets.repartition(col("band"), col("bh"))
        val heavyKeys = bucketsP.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("hn"))
          .filter(col("hn") > p.heavyBucketCap)
          .select(col("band"), col("bh"), lit(true).as("hv"))
        bucketsP.join(broadcast(heavyKeys), Seq("band", "bh"), "left")
          .select(keyCols ++ Seq(col("dg"), col("band"), col("bh"),
            explode(BucketRefine.subkeys(col("dg"), p.numHashes,
              col("hv").isNotNull)).as("sk")): _*)
      }
    val a = joinSide.as("a")
    val b = joinSide.as("b")
    val banded = col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
      col("a.sk") === col("b.sk") && col("a.id") < col("b.id")
    // scoped subset-co-partitioning relaxation (see the joinSide note
    // above). Set BEFORE the candidates persist below: persist()
    // finalizes the cached physical plan at registration time, so the
    // conf must be in force here, not merely before the first action.
    // Restored in the finally; the cached plan keeps the exchange-free
    // join for every later consumer.
    val ckConf = "spark.sql.requireAllClusterKeysForCoPartition"
    val spark = docs.sparkSession
    val ckPrev = spark.conf.get(ckConf, "true")
    spark.conf.set(ckConf, "false")
    // the operator's own scope: a failure in the consume jobs below must
    // not leave its staged frames registered in the session cache, and
    // a caller's scope must not hold them past this call
    try Staging.scoped {
      // candidates (the PLAUSIBLE set) feeds the shingle join-back and
      // the final verify — staged so the banding self-join runs once.
      val candidates = Staging.stage(a.hint("shuffle_hash").join(b,
          probe.fold(banded)(_ => banded && (col("a.pf") || col("b.pf"))))
        .filter(exprs.digest_agree(col("a.dg"), col("b.dg")) >= estCut)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct())

      // Shingle only the docs that appear in some candidate pair. The id
      // set and the shingled candidate docs are both tiny; stage the
      // latter so the a-side and b-side joins don't each re-scan.
      val candIds = candidates.select(col("id_a").as("id"))
        .union(candidates.select(col("id_b").as("id")))
        .distinct()
      val candDocs = Staging.stage(docs
        .join(candIds, col(idCol) === candIds("id"))
        .select(col("id"), exprs.shingle_set(col(textCol), p.shingleN).as("sh")))
      val verified = candidates
        .join(candDocs.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(candDocs.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("jaccard", exprs.jaccard_sorted(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= p.jaccardThreshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      // localCheckpoint: the operator's output, materialized (filling
      // both stages) before the scope releases them — nothing the
      // operator persisted outlives this call (asserted in DedupSpec's
      // hygiene tests)
      verified.localCheckpoint(eager = true)
    } finally spark.conf.set(ckConf, ckPrev)
  }

  private def integralType(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** A Long id back in the id column's own integral type. */
  private def ofIdType(t: DataType)(v: Long): Any = t match {
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
    case _ => v
  }

  /** The band key of `band`, as Spark computes
    * `xxhash64(slice(sig, band·r + 1, r))`: seed 42, one `hashLong` per
    * element. */
  private[graft] def bandKey(sig: ArrayData, band: Int, rowsPerBand: Int): Long = {
    var h = 42L
    var j = band * rowsPerBand
    val end = j + rowsPerBand
    while (j < end) { h = XXH64.hashLong(sig.getLong(j), h); j += 1 }
    h
  }

  /** [[minhashNearDupPairs]] on the driver, for a corpus the footers
    * proved small: the same banding, estimate cut, heavy-bucket
    * sub-keying and exact verify over one collect, with the same
    * semantics — null ids and null texts drop out, pairs are over
    * distinct ids with id_a < id_b, and each candidate is verified over
    * every row carrying its ids, as the distributed join-back does.
    * None when the candidate or verified pairs pass
    * [[LocalFunnelMaxPairs]].
    */
  private def localMinhashPairs(docs: DataFrame, textCol: String, idCol: String,
      p: MinhashParams, probe: Option[String]): Option[DataFrame] = {
    val idType = docs.schema(idCol).dataType
    // text as its raw bytes: a String round trip would re-encode
    // invalid UTF-8 and change the hashes
    val rows = docs.select(Seq(col(idCol).cast(LongType), col(textCol).cast(BinaryType)) ++
        probe.map(col): _*)
      .collect().filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val ids = rows.map(_.getLong(0))
    val texts = rows.map(r => UTF8String.fromBytes(r.getAs[Array[Byte]](1)))
    // without a probe every row may start a pair
    val probed = rows.map(r => probe.isEmpty || r.getBoolean(2))
    val n = rows.length
    val digests = new Array[Array[Byte]](n)
    val keys = Array.ofDim[Long](p.bands, n)
    var i = 0
    while (i < n) {
      val sig = HashKernels.minhashSig(texts(i), p.shingleN, p.numHashes, p.seed)
      digests(i) = HashKernels.sigDigest(sig)
      var b = 0
      while (b < p.bands) { keys(b)(i) = bandKey(sig, b, p.rowsPerBand); b += 1 }
      i += 1
    }
    val estCut = p.estCut
    val candidates = mutable.HashSet.empty[(Long, Long)]
    def bounded: Boolean = candidates.size <= LocalFunnelMaxPairs
    // false once the candidates pass the cap
    def emit(members: Iterable[Int]): Boolean = {
      val m = members.toArray
      var x = 0
      while (x < m.length && bounded) {
        var y = x + 1
        while (y < m.length && bounded) {
          val (a, b) = (ids(m(x)), ids(m(y)))
          if (a != b && (probed(m(x)) || probed(m(y)))) {
            val pair = if (a < b) (a, b) else (b, a)
            if (!candidates.contains(pair) &&
                HashKernels.digestAgree(digests(m(x)), digests(m(y))) >= estCut)
              candidates += pair
          }
          y += 1
        }
        x += 1
      }
      bounded
    }
    val refine = p.refinesHeavyBuckets
    val allEmitted = keys.forall { bandKeys =>
      (0 until n).groupBy(bandKeys(_)).valuesIterator.forall { bucket =>
        if (refine && bucket.size > p.heavyBucketCap)
          bucket.flatMap(r => BucketRefine.blockKeys(digests(r)).map(_ -> r))
            .groupMap(_._1)(_._2).valuesIterator.forall(emit)
        else emit(bucket)
      }
    }
    if (!allEmitted) return None
    val rowsOf = (0 until n).groupBy(ids(_))
    val shingles = mutable.HashMap.empty[Int, ArrayData]
    def sh(r: Int): ArrayData =
      shingles.getOrElseUpdate(r, HashKernels.shingleSet(texts(r), p.shingleN))
    val asId = ofIdType(idType) _
    // repeated ids verify every row pair, so the output has its own cap
    val verified = (for {
      (a, b) <- candidates.toSeq.sorted.iterator
      ra <- rowsOf(a)
      rb <- rowsOf(b)
      j = HashKernels.jaccardSorted(sh(ra), sh(rb))
      if j >= p.jaccardThreshold
    } yield Row(asId(a), asId(b), j)).take(LocalFunnelMaxPairs + 1).toVector
    if (verified.length > LocalFunnelMaxPairs) return None
    val schema = StructType(Seq(StructField("id_a", idType), StructField("id_b", idType),
      StructField("jaccard", DoubleType)))
    Some(docs.sparkSession.createDataFrame(verified.asJava, schema))
  }

  /** Smallest-id connected-component labels over an undirected pair set:
    * returns (id, root) for every id that appears in a pair, where root
    * is the minimum id reachable through the pair graph.
    *
    * Large-star/small-star contraction (the alternating two-phase
    * connected-components algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — public literature): each
    * round rewires every node's strictly-larger neighbors (large-star)
    * then its smaller-or-equal neighbors (small-star) to the local
    * minimum, halving component height — O(log n) rounds even on a
    * pathological dup CHAIN, where r2's min-label propagation needed
    * O(diameter) rounds (thousands, for scraped-boilerplate families).
    * Both phases are plain join+agg on the edge list — no collect_list,
    * so a high-degree hub never materializes its neighborhood in one
    * task. Convergence is detected by an edge-set checksum
    * (count + sum of per-edge xxhash64): ONE driver action per round,
    * not the two (agg + isEmpty join) of the r2 loop. `localCheckpoint`
    * truncates lineage per round; on a real cluster use reliable
    * checkpointing.
    *
    * Contract: converges within `maxRounds` for any component of size
    * ≤ 2^maxRounds (i.e. always, for maxRounds=20 at < 10^6-node
    * components; real near-dup families are far smaller). If the bound
    * is ever exhausted the method now FAILS LOUDLY rather than return
    * partially-propagated labels that would silently under-dedup.
    *
    * Two-phase at scale: the distributed contraction rounds run ONLY
    * while the edge set exceeds `localFinishMaxEdges`; once the
    * (contracted) graph fits trivially in driver memory the closure
    * finishes with a local union-find — one collect instead of ~8
    * shuffle stages + 2 driver actions PER ROUND. On a 256-edge pair
    * set this took the closure from 3.5 s to ~0.3 s; on a 100 TB corpus
    * the near-dup pair graph after distinct is orders of magnitude
    * smaller than the corpus, and each contraction round shrinks it
    * further, so the local finish is where every real run ends. (The
    * same shape GraphFrames/Pregel implementations use: iterate
    * distributed, finish small.) The small-graph case is further
    * collapsed to ONE driver action: a `limit(threshold+1)` probe
    * collect of the raw pair rows that either IS the whole pair set
    * (label every node locally, no checkpoint/checksum round-trips and
    * no job beyond the probe — none at all over a local relation) or
    * proves the graph is big and falls through to the contraction loop.
    * Applies only to integral id columns; other id types always use the
    * distributed fixed point.
    */
  def componentMinLabels(pairs: DataFrame, maxRounds: Int = 20,
      localFinishMaxEdges: Long = 2L * 1000 * 1000): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // canonical larger→smaller directed edges (src > dst)
    val canonical = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val idType = pairs.schema("id_a").dataType
    val integralIds = integralType(idType)
    val nodes = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id")))
      .distinct()

    // union-find with min-id roots over a collected edge list; shared by
    // the one-action probe and the post-contraction finish below
    def unionFind(edges: Iterable[(Long, Long)]): Long => Long = {
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      find
    }
    def localFinish(edges: Array[(Long, Long)]): DataFrame = {
      val find = unionFind(edges)
      val labels = edges.iterator
        .flatMap { case (a, b) => Iterator(a, b) }
        .toSet[Long].iterator
        .map(id => (id, find(id)))
        .filter { case (id, root) => id != root }
        .toSeq
      val labelsDf = labels.toDF("id", "root")
        .select(col("id").cast(idType).as("id"), col("root").cast(idType).as("root"))
      nodes.join(broadcast(labelsDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("root"))
    }

    // ONE-action fast path: probe the RAW pair rows with
    // limit(threshold+1) — if they all come back, label every node they
    // name locally and skip the canonical distinct, the nodes union and
    // the checkpoint + checksum + re-collect choreography entirely (the
    // r5 shape spent 3 sequential driver actions to learn what this
    // single bounded collect already proves; under a contended
    // scheduler each action is fixed latency). Over a local relation
    // (a driver-side funnel) the probe and the labels run no job. A
    // full probe at the limit is ≤ ~32 MB of longs; past the limit,
    // LocalLimit short-circuits and we fall through to the distributed
    // contraction below. Null ids join no edge and label to null, as
    // in the distributed form.
    if (integralIds && localFinishMaxEdges < Int.MaxValue) {
      val lim = localFinishMaxEdges.toInt + 1
      val probe = pairs.select(col("id_a").cast(LongType), col("id_b").cast(LongType))
        .limit(lim).collect()
        .map(r => (Option(r.getAs[java.lang.Long](0)), Option(r.getAs[java.lang.Long](1))))
      if (probe.length < lim) {
        val find = unionFind(probe.collect { case (Some(a), Some(b)) => (a.longValue, b.longValue) })
        val asId = ofIdType(idType) _
        val labeled = probe.iterator.flatMap { case (a, b) => a.iterator ++ b.iterator }
          .map(_.longValue).toSet.toSeq.sorted
          .map(id => Row(asId(id), asId(find(id))))
        val withNull =
          if (probe.exists { case (a, b) => a.isEmpty || b.isEmpty }) labeled :+ Row(null, null)
          else labeled
        return spark.createDataFrame(withNull.asJava,
          StructType(Seq(StructField("id", idType), StructField("root", idType))))
      }
    }

    // localCheckpoint here and per round: cuts the loop's lineage
    var dir = canonical.localCheckpoint()

    // large-star: for every node u, connect each strictly-LARGER
    // neighbor v to m = min(Γ(u) ∪ {u}); emitted edges stay src > dst.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    // small-star: for every node u, connect each SMALLER neighbor and u
    // itself to m = min of u's smaller neighborhood.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("src").agg(min("dst").as("m"))
      e.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .distinct()
    }
    // count + XOR of per-edge hashes: order-independent, overflow-free
    // (ANSI sum of 64-bit hashes would overflow), distinct edge sets
    // collide only with ~2^-64 probability
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(src, dst))").as("h")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var round = 0
    var converged = false
    var prev = checksum(dir)
    def localFinishEligible: Boolean = integralIds && prev._1 <= localFinishMaxEdges
    while (!converged && !localFinishEligible && round < maxRounds) {
      dir = smallStar(largeStar(dir)).localCheckpoint()
      val cur = checksum(dir)
      converged = cur == prev
      prev = cur
      round += 1
    }

    if (!converged && localFinishEligible) {
      // Local finish over the CONTRACTED edges. Every non-root node of
      // the ORIGINAL graph still appears in the contracted edge list
      // (star contraction never orphans a non-min node), so labels from
      // here + identity for untouched nodes is the complete answer.
      return localFinish(dir
        .select(col("src").cast(LongType), col("dst").cast(LongType))
        .as[(Long, Long)].collect())
    }
    if (!converged)
      throw new IllegalStateException(
        s"componentMinLabels: star contraction did not converge in $maxRounds rounds " +
          s"(component deeper than 2^$maxRounds nodes?) — refusing to return partial labels")

    // At the fixed point every component is a star: each non-root has
    // exactly one edge to the component min. (min(dst) is a no-op guard
    // on that invariant, not a correctness crutch.)
    val nonRoots = dir.groupBy("src").agg(min("dst").as("root"))
      .select(col("src").as("id"), col("root"))
    val roots = nodes
      .join(dir.select(col("src").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("root"))
    nonRoots.union(roots)
  }

  /** Dedup decision from verified pairs with full transitive closure:
    * within each connected component of the near-dup graph only the
    * smallest id survives, so chains A~B~C collapse to A even when
    * (A, C) never collided directly.
    */
  def dropNearDups(
      docs: DataFrame, textCol: String, idCol: String,
      p: MinhashParams = MinhashParams()): DataFrame = {
    val pairs = minhashNearDupPairs(docs, textCol, idCol, p)
    val losers = componentMinLabels(pairs)
      .filter(col("root") =!= col("id"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------- eval contamination

  /** Benchmark decontamination: for each (corpus doc, eval doc) pair,
    * the CONTAINMENT of the eval doc in the corpus doc —
    * |shingles(eval) ∩ shingles(corpus)| / |shingles(eval)|. Asymmetric
    * on purpose: a short benchmark question embedded in a long training
    * document scores ~1 even though the pair's Jaccard is tiny (which
    * is why near-dup LSH is the WRONG tool for this).
    *
    * Scale shape: the eval set is small (benchmark suites), so its
    * exploded shingles broadcast; the corpus explodes its shingles once
    * and hash-joins — one pass over the corpus, no O(n²), exact
    * answer. Returns pairs at or above `threshold`.
    */
  def contaminationPairs(
      corpus: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 5, threshold: Double = 0.5): DataFrame = {
    val cs = corpus.select(col(idCol).as("corpus_id"),
      explode(exprs.shingle_set(col(textCol), shingleN)).as("g"))
    val es = evalDocs.select(col(idCol).as("eval_id"),
      explode(exprs.shingle_set(col(textCol), shingleN)).as("g"))
    val esz = evalDocs.select(col(idCol).as("eval_id"),
      size(exprs.shingle_set(col(textCol), shingleN)).as("n_eval"))
    cs.join(broadcast(es), "g")
      .groupBy(col("corpus_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(esz), "eval_id")
      .withColumn("containment", col("n_common").cast("double") / col("n_eval"))
      .filter(col("containment") >= threshold)
      .select(col("corpus_id"), col("eval_id"), col("containment"))
  }

  /** [[contaminationPairs]] fused into one corpus-scan kernel: the eval
    * shingle sets (small by premise — benchmark suites) are collected at
    * the driver and ride inside a codegen'd expression as a reference
    * object, so the corpus scan emits ONE row per document — an array of
    * per-eval-doc intersection counts — instead of one row per
    * (document, shingle). Nothing corpus×shingles ever materializes and
    * the only join is the posexploded nonzero counts against a tiny
    * broadcast eval-metadata frame. Identical output to the join form
    * (asserted in DedupSpec); the driver-side collect is bounded by the
    * eval suite, exactly like the ANN quantizer fits.
    */
  def contaminationPairsFused(
      corpus: DataFrame, evalDocs: DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 5, threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = corpus.sparkSession
    val evalRows = evalDocs
      .select(col(idCol), exprs.shingle_set(col(textCol), shingleN))
      .collect()
    val sets: Array[Array[Int]] = evalRows.map(_.getSeq[Int](1).toArray)
    val metaSchema = StructType(Seq(
      StructField("__pos", IntegerType, nullable = false),
      StructField("eval_id", evalDocs.schema(idCol).dataType),
      StructField("n_eval", IntegerType, nullable = false)))
    val metaRows: Seq[Row] = evalRows.toSeq.zipWithIndex.map { case (r, i) =>
      Row(i, r.get(0), sets(i).length)
    }
    val meta = spark.createDataFrame(
      spark.sparkContext.parallelize(metaRows, 1), metaSchema)
    // ungated spread: each document's work grows with the eval suite,
    // which the corpus footers do not bound (Tables.SpreadMinBytes)
    graft.sources.Tables.roundRobinSpread(corpus)
      .select(col(idCol).as("corpus_id"),
        posexplode(exprs.containment_counts(col(textCol), shingleN, sets))
          .as(Seq("__pos", "n_common")))
      .filter(col("n_common") > 0) // most docs touch no eval set — drop before the join
      .join(broadcast(meta), "__pos")
      .withColumn("containment", col("n_common").cast("double") / col("n_eval"))
      .filter(col("containment") >= threshold)
      .select(col("corpus_id"), col("eval_id"), col("containment"))
  }

  // -------------------------------------------------------------- SimHash

  /** Near-dup pairs via 64-bit SimHash: candidates share at least one of
    * four 16-bit chunks (pigeonhole ⇒ any pair within hamming distance 3
    * shares a chunk), verified by exact hamming distance.
    */
  def simhashNearDupPairs(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, maxHamming: Int = 3): DataFrame = {
    val hashed = graft.sources.Tables.roundRobinSpread(docs).select(
      col(idCol).as("id"), exprs.simhash64(col(textCol), shingleN).as("sh"))

    val chunkCols = (0 until 4).map { i =>
      struct(lit(i).as("ci"),
        shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL)).as("cv"))
    }
    val buckets = hashed
      .select(col("id"), col("sh"), explode(array(chunkCols: _*)).as("c"))
      .select(col("id"), col("sh"), col("c.ci").as("ci"), col("c.cv").as("cv"))

    val a = buckets.as("a")
    val b = buckets.as("b")
    // Hamming filter BEFORE the pair-dedup shuffle (the SimHash analog
    // of minhash's pre-verify est-filter, r7): a boilerplate-heavy
    // corpus storms the 16-bit chunk buckets with pairs that share one
    // chunk but sit far apart in the other 48 bits, and those pairs
    // previously rode the distinct's shuffle (its hash-agg buffers and
    // exchange bytes scale with RAW candidates: measured 314,559 raw
    // bucket-join rows at sf0.1 vs 1,503 hamming≤3 rows — 209× less
    // distinct input after the reorder). The hamming is already computed
    // in the join project (two columns of the joined row, no extra
    // scan), so filtering first is free, and — unlike minhash's
    // estimate cut — EXACT: simhash membership IS signature hamming,
    // so this reorder cannot miss a pair. Only (ci,cv)-duplicate
    // survivors remain for the distinct.
    a.join(b,
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // -------------------------------------------- embedding-cosine near-dup

  /** Shuffle-partition sizing for the bucket/prefix SELF-JOINS (the
    * r14 simjoin fix, generalized in r15/r16): one partition per
    * ~`rowsPerTask` shuffled rows bounds the per-task shuffled-hash
    * BUILD (locality — the r14 profile put the bigger half of a 13.7×
    * decade ratio on build size, not emission count), floored at the
    * session partitioning so small corpora keep their plan, and CAPPED
    * just under `spark.shuffle.sort.bypassMergeThreshold` (crossing it
    * flips the upstream exchange's writer onto the sort-based path —
    * measured 2.7× cpu for identical bytes at 334 partitions vs the
    * 200-threshold default). A deployment that raises the threshold
    * for its scale gets the matching cap automatically. Named (and
    * unit-pinned) so the sizing can't silently regress to a fixed
    * count — the r11 OOM class at the next decade.
    */
  def sizedShufflePartitions(rows: Long, rowsPerTask: Long,
      sessionParts: Int, bypassThreshold: Int): Int = {
    val cap = math.max(32, bypassThreshold - 8)
    math.max(sessionParts, math.min(cap, (rows / rowsPerTask).toInt + 1))
  }

  /** Occupancy-targeted planes-per-TABLE schedule for the hyperplane
    * LSH self-join (r16 — the q_embed_neardup decade fix). The r9
    * integer schedule planes = ⌈log2(n/16)⌉ quantizes mean bucket
    * occupancy anywhere in (8, 16]: across the r15 decade probe the
    * ceiling jitter alone grew occupancy 1.3× (13.2 → 17.1) on top of
    * the inherent table growth, and the skew tail squared it into
    * ΣC(occ, 2) — pre-filter pair emission 19.6× per 10× data
    * (≈ n^1.29). Fractional effective planes fix the quantization: a
    * fraction f of the tables run kHi = ⌈log2(n/target)⌉ planes
    * (occupancy x = n/2^kHi) and the rest kHi−1 (occupancy 2x), with
    * f = 2 − target/x chosen so the MEAN occupancy sits exactly at the
    * target — the plateau the emission curve needs. The table count
    * then comes from the same Charikar recall model as before, summed
    * over the mixed per-table collision rates pᵏ: smallest t with
    * (1−p^kLo)^nLo · (1−p^kHi)^nHi ≤ maxMiss. With occupancy pinned,
    * total emission Σ_t n·occ_t/2 grows as n·t where t ~ n^(−log2 p)
    * (≈ n^0.095 at θ = 0.98) — the ~n^1.1 envelope, quantization-free.
    * The target itself drops 16 → 8 (r16): the r15 probe measured the
    * bucket-join consume stage at 96.7% of query cpu, so halving
    * per-bucket quadratic work for ~7% more tables (one extra plane
    * costs 1/p more tables) is a straight trade in the measured
    * regime. maxPlanes 26 (was 20) keeps the plateau through the
    * 40M-vector decade (signatures pack into a long — up to 64 fits),
    * and maxTables 16 (was 12) keeps the 3% recall model satisfiable
    * there (at 40M the mixed per-table collision is ~0.22, so 14
    * tables are needed; the old 12-cap silently degraded the model to
    * 4.4% miss).
    */
  def occupancyPlanesSchedule(n: Long, targetOcc: Double, theta: Double,
      maxMiss: Double = 0.03, minPlanes: Int = 8, maxPlanes: Int = 26,
      minTables: Int = 4, maxTables: Int = 16,
      extraBits: Double = 0.0): Seq[Int] = {
    val p = 1.0 - math.acos(theta) / math.Pi
    val kHi = math.max(minPlanes, math.min(maxPlanes,
      math.ceil(math.log(n.toDouble / targetOcc) / math.log(2.0)).toInt))
    val kLo = math.max(minPlanes, kHi - 1)
    val x = n.toDouble / math.pow(2.0, kHi)
    val f =
      if (kLo == kHi) 1.0
      else math.min(1.0, math.max(0.0, 2.0 - targetOcc / x))
    // extraBits (r16): when the consumer enables the occupancy CAP
    // (embeddingBuckets splitOcc > 0), a θ-boundary pair that lands in
    // an over-cap bucket must also agree on that bucket's sub-key bits
    // — effectively `extra` more planes in that table. The cap's
    // sub-key width is data-dependent (0 for the sub-cap majority,
    // ceil(log2(occ/target)) above it); callers pass the expected
    // width over SIZE-BIASED rows (~2 at the measured 4M-vector skew)
    // and the miss model charges every table conservatively, buying
    // the recall floor back with ~1 extra table.
    val pHi = math.pow(p, kHi + extraBits)
    val pLo = math.pow(p, kLo + extraBits)
    def miss(t: Int): Double = {
      val nHi = math.round(f * t).toInt
      math.pow(1.0 - pLo, (t - nHi).toDouble) *
        math.pow(1.0 - pHi, nHi.toDouble)
    }
    var t = minTables
    while (t < maxTables && miss(t) > maxMiss) t += 1
    val nHi = math.round(f * t).toInt
    (0 until t).map(i => if (i < nHi) kHi else kLo)
  }

  /** Embedding near-dup pairs: random-hyperplane LSH buckets (sign bits
    * of `numPlanes` fixed projections), cosine-verified. Same
    * bucket-then-verify shape as MinHash — no O(n²).
    *
    * `numTables` independent hash tables (fresh plane sets per table)
    * OR-amplify recall: a pair is a candidate if it collides in ANY
    * table, so the miss probability decays exponentially in the table
    * count — the LSH analog of MinHash banding. Pairs that collide in
    * several tables are verified in each table's bucket join (the
    * cosine is deterministic, so the duplicates are identical rows)
    * and deduplicated after the threshold filter. `numPartitions`: see
    * the per-table overload.
    */
  def embeddingNearDupPairs(
      embs: DataFrame, vecCol: String, idCol: String,
      numPlanes: Int = 12, threshold: Double = 0.95, seed: Long = 42L,
      dim: Int = 64, numTables: Int = 4, numPartitions: Int = 0): DataFrame =
    embeddingNearDupPairs(embs, vecCol, idCol,
      Seq.fill(numTables)(numPlanes), threshold, seed, dim, numPartitions,
      splitOcc = 0, splitTarget = 8, stageBuckets = false)

  /** Maximum sub-key width of the occupancy cap: over-cap buckets are
    * subdivided by at most this many extra signature bits (2^8 = 256
    * sub-buckets caps a 100k-occupancy pathology back to ~400/bucket).
    */
  val SplitMaxBits = 8

  /** Bucket rows for the hyperplane-LSH self-join: one row per
    * (vector, table) carrying the vector, the table's `planesPerTable
    * (t)`-bit signature prefix, and the occupancy-cap sub-key `ext`.
    *
    * Occupancy CAP (r16, the decade-probe residual): ΣC(occ, 2) is
    * quadratic per bucket, so even with MEAN occupancy pinned by the
    * planes schedule, the size-biased shoulder (60% of measured 4M-
    * vector emission sat in 17–64-occupancy buckets, 22% above) keeps
    * the emission exponent near n^1.2. With `splitOcc` > 0, buckets
    * whose occupancy exceeds it are subdivided by `ceil(log2(occ /
    * splitTarget))` EXTRA signature bits (≤ [[SplitMaxBits]]) — the
    * sig is a stable prefix (planes are generated per plane index),
    * so the sub-key is just the next bits of the same signature, and
    * expected sub-bucket occupancy returns to `splitTarget`. Genuine
    * near-dup families stay intact: cosine ≈ 1 members sign
    * identically under EVERY plane, so their C(family, 2) true pairs
    * — the output-size floor no cap can remove — still co-bucket,
    * while merely co-bucketed junk splits apart. Boundary-θ pairs pay
    * p^extra per over-cap table; [[occupancyPlanesSchedule]]'s
    * `extraBits` charges that to the miss budget.
    *
    * Plan shape: the occupancy count runs on a SKINNY branch (the
    * (t, sig) projection only — no vectors, no ids; column pruning
    * reaches the scan, and its exchange moves bucket-count-sized
    * partial-agg rows, not corpus payloads). The over-cap list joins
    * back onto the vector-carrying rows under AQE's size decision
    * (broadcast at every measured scale — the list is the occupancy
    * tail, ~3% of buckets; a pathological corpus degrades to a
    * shuffled join, never an OOM cliff). The vectors themselves move
    * in exactly ONE exchange either way: the sized repartition on the
    * FULL join key (t, sig, ext), which both self-join sides reuse —
    * pinned by PlanAuditSpec.
    */
  def embeddingBuckets(
      embs: DataFrame, vecCol: String, idCol: String,
      planesPerTable: Seq[Int], seed: Long, dim: Int,
      numPartitions: Int, splitOcc: Int, splitTarget: Int): DataFrame = {
    val keyed = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
    val tableCols = planesPerTable.zipWithIndex.map { case (pl, t) =>
      val full = Similarity.hyperplaneSignature(
        col("v"), pl + (if (splitOcc > 0) SplitMaxBits else 0), dim, seed + t)
      struct(lit(t).as("t"),
        full.bitwiseAND(lit((1L << pl) - 1)).as("sig"),
        shiftright(full, pl).bitwiseAND(lit((1L << SplitMaxBits) - 1))
          .as("extbits"))
    }
    val flat = keyed
      .select(col("id"), col("v"), explode(array(tableCols: _*)).as("b"))
      .select(col("id"), col("v"), col("b.t").as("t"), col("b.sig").as("sig"),
        col("b.extbits").as("extbits"))
    val withExt =
      if (splitOcc <= 0) flat.withColumn("ext", lit(0L)).drop("extbits")
      else {
        val heavy = flat.select(col("t"), col("sig"))
          .groupBy(col("t"), col("sig")).agg(count(lit(1)).as("occ"))
          .filter(col("occ") > splitOcc)
          .select(col("t"), col("sig"),
            least(lit(SplitMaxBits),
              ceil(log2(col("occ") / lit(splitTarget.toDouble))))
              .cast("int").as("extra"))
        flat.join(heavy, Seq("t", "sig"), "left")
          .withColumn("ext", coalesce(
            col("extbits").bitwiseAND(
              expr("shiftleft(CAST(1 AS BIGINT), extra) - 1")),
            lit(0L)))
          .drop("extbits", "extra")
      }
    if (numPartitions > 0)
      withExt.repartition(numPartitions, col("t"), col("sig"), col("ext"))
    else withExt
  }

  /** Per-TABLE planes variant (r16): table t uses `planesPerTable(t)`
    * sign bits — the [[occupancyPlanesSchedule]] consumer. Semantics
    * identical to the uniform form (a pair is a candidate if it
    * collides in ANY table; cosine verify decides membership), plus
    * the optional [[embeddingBuckets]] occupancy cap.
    *
    * @param numPartitions when > 0, the bucket self-join's explicit
    *   (t, sig) partition count — the r15 embed-probe fix: the join
    *   shuffles on exactly these keys, so a user repartition pins the
    *   build-side size per task with NO extra exchange
    *   (EnsureRequirements sees the keys already clustered; both join
    *   sides reuse the one exchange). At 4M self-join vectors the
    *   default 32 partitions handed each shuffled-hash task a ~1.25M-row
    *   (~350 MB) build and the join-consume stage ran 96.7% of query
    *   cpu at 1.45× the per-pair cost of the 400k run (probe record
    *   r15_embed_neardup_probe.json); callers that know the corpus size
    *   from parquet footers (q_embed_neardup) size this like the
    *   simjoin prefix join — ~250k bucket rows per task, capped under
    *   the sort-bypass boundary. 0 (the uniform overload's default)
    *   keeps the session's shuffle partitioning untouched for small
    *   corpora.
    */
  def embeddingNearDupPairs(
      embs: DataFrame, vecCol: String, idCol: String,
      planesPerTable: Seq[Int], threshold: Double, seed: Long,
      dim: Int, numPartitions: Int,
      splitOcc: Int, splitTarget: Int,
      stageBuckets: Boolean): DataFrame = {
    // Bucket rows CARRY THEIR VECTOR; the cosine is computed and
    // thresholded in the bucket join's own projection, and only
    // (id_a, id_b, cosine) survivors reach the dedup. The r10 shape
    // shuffled ids-only buckets and re-joined vectors onto the DISTINCT
    // candidate set — but that makes two exchanges scale with the
    // CANDIDATE count × vector width (~30 collision pairs/vector at the
    // 2M probe ⇒ ~32 GB), where bucket rows scale with corpus ×
    // numTables (~4 GB at 2M, and the self-join reuses the one
    // exchange). Pair-count-scaled shuffles are the thing that dies
    // first on skewed corpora; corpus-linear ones just get slower.
    // The distinct stays a HashAggregate — vectors are projected away
    // before it, and duplicate collisions (same pair in several tables)
    // produce identical deterministic cosines.
    // shuffle_hash: bucket keys are numPlanes-bit signatures (adaptive
    // planes keep mean occupancy at the schedule target); no sort,
    // per-partition builds.
    // stageBuckets (r16, the q_simjoin_prefix discipline): with the
    // occupancy cap the bucket subtree carries a broadcast join, and
    // AQE's stage cache stopped canonical-matching the two self-join
    // sides — measured as TWIN corpus-scale shuffle writes (2 × ~13 GB
    // at the 4M-vector probe, past this host's disk). Staging the
    // repartitioned frame DISK_ONLY materializes it ONCE; both join
    // sides read stored columnar blocks with the (t, sig, ext)
    // HashPartitioning intact, so the join itself needs NO exchange.
    // The stage lives until the caller's query ends (see Staging).
    val raw = embeddingBuckets(embs, vecCol, idCol, planesPerTable,
      seed, dim, numPartitions, splitOcc, splitTarget)
    val buckets = if (stageBuckets) Staging.stage(raw) else raw
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.hint("shuffle_hash").join(b,
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.ext") === col("b.ext") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        exprs.cosine_f(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  // ---------------------------------------------- incremental (delta) dedup

  /** Incremental near-dup audit of a DELTA batch against an EXISTING
    * corpus. Returns one row per delta doc: `dup_of_existing` (has a
    * verified near-dup already in the corpus — the REJECT signal) and
    * `n_delta_dups` (distinct verified near-dup partners inside the same
    * batch — feed these to [[componentMinLabels]] for within-batch
    * keep-one).
    *
    * One call of the [[minhashNearDupPairs]] funnel over existing ∪
    * delta, restricted to pairs with a delta side, so no
    * existing×existing pair is formed; the same banding, estimate cut,
    * heavy-bucket sub-keying and exact verify, on the driver when the
    * footers bound both inputs. The corpus side is signed and banded
    * again on every call: no standing index of it is kept.
    */
  def incrementalNearDups(
      existing: DataFrame, delta: DataFrame, textCol: String, idCol: String,
      p: MinhashParams = MinhashParams()): DataFrame = {
    // fixed names: the funnel's own columns (id, sig, ...) cannot clash
    val all = existing.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        lit(false).as("is_delta"))
      .union(delta.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        lit(true).as("is_delta")))
    val pairs = minhashNearDupPairs(all, "text", "doc_id", p, LocalFunnelMaxRows,
      probe = Some("is_delta"))
    // each verified pair seen from both of its docs, with the partner's side
    val partners = pairs.select(col("id_a").as("id_d"), col("id_b").as("id_o"))
      .union(pairs.select(col("id_b").as("id_d"), col("id_a").as("id_o")))
      .join(all.select(col("doc_id").as("id_o"), col("is_delta").as("o_is_delta")), "id_o")
    val perDelta = partners.groupBy(col("id_d")).agg(
      max(!col("o_is_delta")).as("dup_of_existing"),
      countDistinct(when(col("o_is_delta"), col("id_o"))).as("n_delta_dups"))
    delta.select(col(idCol).as("id_d"))
      .join(perDelta, Seq("id_d"), "left")
      .select(col("id_d").as(idCol),
        coalesce(col("dup_of_existing"), lit(false)).as("dup_of_existing"),
        coalesce(col("n_delta_dups"), lit(0L)).as("n_delta_dups"))
  }

  /** SUBSTRING-level exact duplication: for every document pair sharing
    * a common substring of at least `minLen` characters, the length of
    * their LONGEST shared substring. Catches contained/embedded
    * duplication (quoted paragraphs, boilerplate blocks, doc-inside-doc)
    * that whole-document fingerprints and set-based shingle Jaccard
    * both under-report — the duplication mode suffix-array pipelines
    * (e.g. the dedup in "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2021 — public literature) target, here
    * as a shuffle-bounded Spark plan instead of a monolithic suffix
    * array:
    *
    *  1. every CHARACTER position's `minLen`-gram, hashed to 8 bytes
    *     map-side (gram_hashes64 emits code-point-indexed positions, so
    *     the SQL-`substring` verify in step 4 compares the intended
    *     windows on non-ASCII text too) — the ONLY corpus-sized shuffle
    *     is (hash, id, pos) triples, ~16B/char, the Spark analog of the
    *     suffix-array sort;
    *  2. hash-equality self-join (id_a < id_b) = matching positions —
    *     RARE outside true duplication at minLen ≥ 40;
    *  3. consecutive matches on one DIAGONAL (pa − pb constant) merge
    *     into maximal runs by the gaps-and-islands window (partition
    *     (pair, diagonal): bounded by document length, never corpus);
    *     a run of r grams = a shared span of minLen + r − 1 chars;
    *  4. every per-diagonal maximal span is VERIFIED by comparing the
    *     actual substrings (two id-equi-joins back to the source), so
    *     hash collisions cannot fabricate or extend a span.
    *
    * Returns (id_a, id_b, max_shared_len), one row per pair with any
    * verified shared span ≥ minLen.
    */
  def sharedSubstringSpans(
      docs: DataFrame, textCol: String, idCol: String,
      minLen: Int = 40, anchorStride: Int = 8): DataFrame = {
    require(minLen >= 2)
    // winnow window w and gram size m chosen so the detection threshold
    // m + w − 1 equals minLen EXACTLY: every shared span of ≥ minLen
    // chars spans ≥ w consecutive m-gram positions, hence ≥ one full
    // winnowing window, hence ≥ one matching anchor — completeness is
    // the winnowing guarantee, not a probability.
    val w = math.min(math.max(anchorStride, 1), minLen - 1)
    val m = minLen - w + 1
    // r8 SCALE REWORK, measured at a synthetic sf1 (50k docs, 10%
    // sharing a 180-char boilerplate prefix): the previous per-position
    // hash self-join + per-(pair, diagonal) window emitted 1.76 BILLION
    // match rows on that corpus (141 template positions × 12.5M
    // template pairs) and killed the session inside the window sort.
    // Anchors cut the position axis ~w-fold BEFORE the join, and the
    // run-merge window is replaced by a plain hash AGGREGATE per
    // (pair, diagonal) (min/max anchor position) + one bounded
    // char-exact scan per diagonal — no row-level sort anywhere. The
    // pair axis is irreducible (the TRUE answer on such a corpus is
    // quadratic in the cluster), but the per-pair cost is now O(span)
    // with map-side-combinable aggregates, and the whole plan survives
    // where the old one died. One rolling pass per doc (gram_hashes64,
    // code-point-indexed positions) feeds the winnow kernel map-side.
    val anchors = graft.sources.Tables.spreadForKernel(docs)
      .filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("id"),
        explode(graft.functions.exprs.winnow_anchors(
          graft.functions.exprs.gram_hashes64(col(textCol), m), w)).as("a"))
      .select(col("id"), (col("a.p") + 1).as("p"), col("a.h").as("h"))
    // the anchor self-join is hash-equality on a near-unique 8-byte key
    // (measured bucket max = 4 on the replicated 5M-doc probe): a
    // sort-merge join sorts BOTH 290M-row sides (the r11 profile put
    // 89% of the query's wall and 7.5 GB of spill in those two sorts) —
    // a shuffled-hash join builds one per-partition map and streams the
    // other side, no sort anywhere.
    // ADAPTIVE partition count (r12): at a fixed 32 partitions the 5M-doc
    // probe handed each task a ~9M-row (~0.5 GB) anchor build map —
    // random-access probing at that size is TLB/cache-miss-bound, the
    // superlinear-CPU signature the r11 probe flagged on this query. One
    // partition per ~50k docs (the simjoin rule) bounds the per-task
    // build at ~3M anchors regardless of corpus size; the row count is
    // parquet metadata, no scan.
    val nParts = math.max(
      docs.sparkSession.sessionState.conf.numShufflePartitions,
      math.min(2048, (docs.count() / 50000L).toInt + 1))
    val anchorsP = anchors.repartition(nParts, col("h"))
    val matches = anchorsP.as("a").hint("shuffle_hash").join(anchorsP.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        col("a.p").as("pa"), col("b.p").as("pb"))
    // one row per (pair, diagonal): the full anchor extent. Multi-span
    // diagonals collapse into one scan window — the kernel scan finds
    // every run inside it, so merging loses nothing (and the window is
    // bounded by min(doc length) regardless of anchor layout).
    val diag = matches
      .withColumn("d", col("pa") - col("pb"))
      .groupBy(col("ia"), col("ib"), col("d"))
      .agg(min(col("pa")).as("lo"), max(col("pa")).as("hi"))
    // (d, lo, hi) packed into one long so the char-scan expression fits
    // Catalyst's ternary codegen base; positions are code-point counts
    // < 2^21 (docs over 2M chars would need a wider packing)
    val packed = ((col("d") + lit(1 << 20)).cast("long") * lit(1L << 42)
      + col("lo").cast("long") * lit(1L << 21) + col("hi").cast("long")).as("pk")
    val ta = docs.select(col(idCol).as("ia"), col(textCol).as("__ta"))
    val tb = docs.select(col(idCol).as("ib"), col(textCol).as("__tb"))
    // hint the DIAGONAL side as the hash build (ids + one packed long —
    // funnel-sized): the default sort-merge sorts the full text corpus
    // twice just to attach two string columns
    diag.select(col("ia"), col("ib"), packed)
      .hint("shuffle_hash").join(ta, "ia")
      .hint("shuffle_hash").join(tb, "ib")
      .select(col("ia"), col("ib"),
        graft.functions.exprs.longest_common_run(
          col("__ta"), col("__tb"), col("pk"), w, m).as("len"))
      .filter(col("len") >= minLen)
      .groupBy(col("ia"), col("ib"))
      .agg(max(col("len")).cast("long").as("max_shared_len"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"), col("max_shared_len"))
  }

  /** minLen CALIBRATION sweep for [[sharedSubstringSpans]] (E128): the
    * shared-span load at every threshold in `grid`, from ONE pass at
    * the grid minimum. Correct because span lengths are
    * threshold-independent once ≥ the gram size: a verified maximal
    * shared span of length L ≥ m is found identically at gram size
    * `grid.min` (it contains every `grid.min`-gram on its diagonal), so
    * "pairs with a span ≥ m" ≡ "pairs from the base pass with
    * max_shared_len ≥ m" — no second gram shuffle per grid point. The
    * per-threshold fan-out happens on the PAIR funnel (rare by
    * construction), not the corpus.
    *
    * Returns one row per grid value: `(min_len, n_pairs, n_docs,
    * longest, span_mass)` — pairs ≥ threshold, distinct docs involved,
    * longest shared span, total shared-span mass. Zeros (not absent
    * rows) for thresholds nothing reaches, so the curve is always
    * grid-shaped.
    */
  def sharedSpanSweep(
      docs: DataFrame, textCol: String, idCol: String,
      grid: Seq[Int] = Seq(40, 80, 160, 320),
      baseSpans: Option[DataFrame] = None): DataFrame = {
    require(grid.nonEmpty && grid.forall(_ >= 2))
    // r16: callers that already hold the base span pass (the session-
    // shared PairFunnel.sharedSpans) pass it in; it MUST be the
    // sharedSubstringSpans output for these docs at minLen = grid.min.
    val base = baseSpans.getOrElse(
      sharedSubstringSpans(docs, textCol, idCol, grid.min))
    val gridDf = docs.sparkSession.range(1)
      .select(explode(array(grid.distinct.sorted.map(m => lit(m)): _*)).as("min_len"))
    // qualifying (threshold, pair) rows — funnel-sized × |grid|
    val q = base.join(gridDf, base("max_shared_len") >= gridDf("min_len"))
    val pairAgg = q.groupBy(col("min_len"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("max_shared_len")).as("longest"),
        sum(col("max_shared_len")).as("span_mass"))
    val docAgg = q.select(col("min_len"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("min_len"))
      .agg(count_distinct(col("id")).as("n_docs"))
    gridDf.join(pairAgg, Seq("min_len"), "left")
      .join(docAgg, Seq("min_len"), "left")
      .select(col("min_len"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("longest"), lit(0L)).as("longest"),
        coalesce(col("span_mass"), lit(0L)).as("span_mass"))
  }

  // ---------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540 —
    * public literature): prune semantic near-duplicates by clustering
    * embeddings FIRST, then comparing pairwise cosine only WITHIN each
    * cluster. The clustering is what makes the pairwise step tractable:
    * candidate work is Σᵢ |cᵢ|² instead of n² — at web scale k is
    * chosen large (the paper uses ~10⁵ clusters on LAION) so clusters
    * stay small and the quadratic term is bounded; k here defaults
    * small only because the test corpus is.
    *
    * Within a cluster, vectors whose cosine ≥ `tau` form duplicate
    * GROUPS (connected components of the τ-graph, via the same
    * large-star/small-star closure the MinHash family uses — the
    * paper's "keep one per group" needs the transitive grouping, not
    * just pairs). Per group ONE representative is kept: the member with
    * the LOWEST cosine to its cluster centroid (the paper's keep-rule —
    * retaining the least-redundant exemplar; ties break on min id).
    * Singletons are kept by definition.
    *
    * Plan shape at scale — TWO-LEVEL clustering (r11): a single Lloyd
    * level needs k ∝ n cells to keep cells at a constant target size,
    * but a flat argmin over k ∝ n centroids makes the assignment pass
    * O(n·k) = O(n²/target) — measured superlinear at the 2M-vector
    * probe (k capped at 1024 ⇒ cells grew to ~2000 ⇒ the within-cell
    * quadratic term alone was ~35× the 10×-smaller run). So the cells
    * come from two nested Lloyd fits:
    *
    *  - LEVEL 1: `k` coarse cells (callers size k ≈ ⌈√(n/target)⌉,
    *    clamped ≤ 1024 so the codebook stays a bounded codegen
    *    literal), one [[Lloyd.fitStaged]] — a Spark job per round,
    *    k×dim partials summed driver-side;
    *  - LEVEL 2: within each coarse cell c, k₂(c) = ⌈|c|/target⌉
    *    subcells (≤ 1024), ALL cells fitted in the same passes: init =
    *    the k₂(c) members of smallest md5 per cell (one window), each
    *    Lloyd round = one broadcast-join fan-out (a row meets only its
    *    OWN cell's subcentroids, ~k₂ ≈ √(n/target) of them) collapsed
    *    map-side by a per-id argmin, plus one (cell, sub, i) aggregate.
    *    Centroids live in a DATAFRAME end to end — the driver never
    *    materializes the O(n/target) level-2 codebook.
    *
    * Per-row assignment cost is k + k₂ ≈ 2√(n/target) instead of
    * min(n/target, cap), and the final cells hold ~target vectors at
    * ANY corpus size, so the within-cluster quadratic term stays
    * n·target — linear. The within-cluster self-join shuffles each side
    * once on `cluster` and candidate pairs carry IDS ONLY (vectors
    * re-joined just for survivors, the embeddingNearDupPairs
    * discipline); the closure runs on the funnel-sized pair set.
    *
    * Returns one row per input vector:
    * (id, cluster, cent_sim, group_root, kept) — `cluster` encodes
    * (level-1 cell)·1024 + subcell, stable because both factors are
    * < 1024.
    */
  def semDeDup(
      embs: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, tau: Double = 0.95,
      maxIter: Int = 2, subCellTarget: Int = 256): DataFrame = {
    val spark = embs.sparkSession
    // r9: the clustering moved from Spark ML KMeans to the PORTABLE
    // integer Lloyd so the ENTIRE operator is DuckDB-replayable and
    // q_semdedup carries a full oracle instead of rows+spec.
    // Components are quantized floor(v·2^20 + 0.5) (exact in double;
    // 1e-6 relative — far inside any real τ margin, and BOTH engines
    // compare the identical quantized values, so boundary behavior
    // matches bit-for-bit); level 1 is a Lloyd.fitStaged with init
    // tag "sd" and `maxIter` rounds.
    // Clustering still only GATES candidate generation — every
    // correctness invariant (one kept per τ-group, keep-rule) holds for
    // ANY partition of the vectors — so two loose rounds are enough;
    // quality beyond τ-pair co-location is invisible to the operator.
    // Each round is one Lloyd.round job whose k×dim partial sums are
    // added driver-side (k ≤ ~1024 — bounded like every codebook fit
    // here); τ-pair cosines and cent_sim use the SAME quantized vectors
    // via the exact-integer cosine_q kernel.
    val keyed = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("qv", graft.functions.exprs.quantize20_q(col("v")))
      .select(col("id"), col("qv"))
    // staged: consumed by the init draw, every Lloyd round, the final
    // labeling, and the pair join.
    val (staged, cents) = Lloyd.fitStaged(keyed, "sd", k, maxIter)
    val dim = cents(0).length
    // final LEVEL-1 assignment — staged: consumed by the k₂ counts, the
    // level-2 init window, every level-2 round, and the final labeling
    val lvl1 = Staging.stage(staged.withColumn("cell",
      exprs.argmin_cell(col("qv"), cents.flatten, cents.length, dim)))

    // ---- LEVEL 2: per-cell subcell counts k₂(c) = ⌈|c|/target⌉ ≤ 1024.
    // `div` matches DuckDB's `//` on the non-negative counts here.
    val k2 = lvl1.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_c"))
      .select(col("cell"), expr(
        s"greatest(1L, least(1024L, (n_c + ${subCellTarget - 1}) div $subCellTarget))")
        .as("k2"))
    // init: the k₂(c) members of smallest (md5, id) per cell, one window
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(md5(concat(lit("sd2:"), col("id").cast("string"))), col("id"))
    var cent2 = lvl1
      .withColumn("rn", row_number().over(w2))
      .join(k2, "cell")
      .filter(col("rn") <= col("k2"))
      .select(col("cell"), (col("rn") - 1).cast("int").as("sub"),
        col("qv").as("cent"))
      .localCheckpoint(true) // cuts lineage: each round below reads the last
    for (_ <- 1 to maxIter) {
      // fan-out join: each row meets its own cell's ~k₂ subcentroids,
      // collapsed map-side by the per-id argmin (ties → smallest sub,
      // the struct ordering) — fanned rows never reach an exchange
      val asg2 = lvl1.join(cent2, "cell")
        .select(col("id"),
          struct(exprs.dist2_q(col("qv"), col("cent")).as("d"),
            col("sub").as("sub")).as("w"))
        .groupBy(col("id")).agg(min(col("w")).as("w"))
        .select(col("id"), col("w.sub").as("sub"))
      // update: (cell, sub, i) sums; empty subcells keep their previous
      // centroid (the LEFT join); truncating div = DuckDB `//` on the
      // non-negative counts, and matches the level-1 Lloyd update on the
      // possibly-negative sums only because BOTH engines truncate
      val sums2 = lvl1.select(col("id"), col("cell"), col("qv"))
        .join(asg2, "id")
        .select(col("cell"), col("sub"), posexplode(col("qv")).as(Seq("i", "q")))
        .groupBy(col("cell"), col("sub"), col("i"))
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
      cent2 = cent2
        .select(col("cell"), col("sub"), posexplode(col("cent")).as(Seq("i", "c")))
        .join(sums2, Seq("cell", "sub", "i"), "left")
        .select(col("cell"), col("sub"), col("i"),
          coalesce(expr("s div n"), col("c")).as("c"))
        .groupBy(col("cell"), col("sub"))
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), x -> x.c)")
          .as("cent"))
        .localCheckpoint(true) // cuts lineage: round i reads round i-1
    }
    // final level-2 assignment + cent_sim against the level-2 centroid;
    // cluster = cell·1024 + sub (both < 1024)
    val asgF = lvl1.join(cent2, "cell")
      .select(col("id"),
        struct(exprs.dist2_q(col("qv"), col("cent")).as("d"),
          col("sub").as("sub")).as("w"))
      .groupBy(col("id")).agg(min(col("w")).as("w"))
      .select(col("id"), col("w.sub").as("sub"))
    val assigned = Staging.stage(
      lvl1.join(asgF, "id")
        .join(cent2, Seq("cell", "sub"))
        .select(col("id"),
          (col("cell").cast("long") * 1024L + col("sub")).cast("int").as("cluster"),
          col("qv"),
          round(exprs.cosine_q(col("qv"), col("cent")), 9).as("cent_sim")))
    // within-cluster τ-pairs; ids only past the filter.
    // r17: STAGED — componentMinLabels consumes the pair set twice
    // (the canonical edge probe and the node-id union), and the r17
    // stage profile showed the within-cluster self-join + cosine pass
    // (the query's most expensive stage pair, ~2× 3.5 cpu-s at sf0.1)
    // running once PER consumer. The output is funnel-sized at any
    // corpus size; staged like the other semDeDup frames (values
    // unchanged — no result byte moves).
    val a = assigned.select(col("cluster"), col("id"), col("qv"))
    val pairs = Staging.stage(a.as("a").join(a.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(exprs.cosine_q(col("a.qv"), col("b.qv")) >= tau)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")))
    val roots = componentMinLabels(pairs) // (id, root) for paired ids
    val labeled = assigned.select(col("id"), col("cluster"), col("cent_sim"))
      .join(roots, Seq("id"), "left")
      .withColumn("group_root", coalesce(col("root"), col("id")))
      .drop("root")
    // keep-rule: per group, min (cent_sim, id) — least-redundant member
    val keep = labeled.groupBy(col("group_root"))
      .agg(min(struct(col("cent_sim"), col("id"))).as("w"))
      .select(col("group_root"), col("w.id").as("keep_id"))
    labeled.join(keep, "group_root")
      .select(col("id"), col("cluster"), col("cent_sim"),
        col("group_root"), (col("id") === col("keep_id")).as("kept"))
  }

  // --------------------------------------------- source similarity matrix

  /** Corpus-level MinHash Jaccard between SOURCES — which feeds overlap
    * in content (mirrors, scrapes of the same sites, shared boilerplate
    * corpora), the curation question upstream of per-document dedup:
    * a source pair with high corpus Jaccard is a candidate for dropping
    * one side wholesale before any doc-level work runs.
    *
    * The estimator is exact MinHash algebra: a source's signature is the
    * elementwise MIN of its documents' signatures (min over a union of
    * shingle sets == min of the per-set mins), so per-source signatures
    * come from ONE text pass (the codegen'd minhash_sig kernel) plus a
    * (source, permutation)-keyed min — |sources|·k rows, catalog-sized.
    * est J(A,B) = agreeing-permutation fraction; emitted in exact
    * integer micro-units (requires k | 10⁶ — 64 divides it).
    *
    * Scale shape: the pairwise stage joins the tiny per-source frame on
    * the permutation index — |sources|²·k comparisons, fine for
    * catalog-sized source counts (10³-10⁴). For web-scale source
    * universes (10⁶ domains) the same signatures feed the banded-LSH
    * funnel instead ([[minhashNearDupPairs]]' machinery) — the matrix
    * here is deliberately the dense, exact-output variant the oracle
    * can replay in full.
    */
  def sourceSimilarity(docs: DataFrame, textCol: String, srcCol: String,
      shingleN: Int = 5, numHashes: Int = 64, seed: Long = 42L): DataFrame = {
    require(1000000L % numHashes == 0,
      "numHashes must divide 1e6 for exact micro-unit output")
    val sigs = Staging.stage(
      docs.select(col(srcCol).as("source"),
          exprs.minhash_sig(col(textCol), shingleN, numHashes, seed).as("sig"))
        .select(col("source"), posexplode(col("sig")).as(Seq("p", "v")))
        .groupBy(col("source"), col("p")).agg(min(col("v")).as("m")))
    val a = sigs.select(col("source").as("source_a"), col("p"),
      col("m").as("ma"))
    val b = sigs.select(col("source").as("source_b"), col("p"),
      col("m").as("mb"))
    a.join(b, Seq("p")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("source_a"), col("source_b"), col("n_agree"),
        (col("n_agree") * (1000000L / numHashes)).as("est_jaccard_micro"))
      .orderBy(col("source_a"), col("source_b"))
  }
}
