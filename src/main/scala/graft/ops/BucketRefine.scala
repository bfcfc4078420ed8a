package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Heavy-bucket sub-refinement for est-filtered LSH / prefix candidate
  * joins — the r12 fix for the three CPU-superlinear funnels of the r11
  * k=1000 probe (`bench_baselines/r11_docs_k1000.json`).
  *
  * Problem: a bucketed candidate self-join (MinHash banding, PPJoin
  * prefix grams) emits C(n,2) key-matches per bucket. On replicated /
  * boilerplate-dense corpora a tail of buckets grows WITH the corpus
  * (e.g. alphabet-symmetric grams shared by every replica), so emission
  * grows ~quadratically while the data grows linearly — measured 20-27×
  * CPU at 10× data, concentrated in the join-consume + est-filter path.
  *
  * Fix (pigeonhole over the full-digest anchor): the refinement keys
  * blocks of the FULL `n`-byte digest. A digest of `n` bytes split into
  * ⌈n/2⌉ two-byte blocks has the property that a pair agreeing on
  * > n/2 bytes MUST agree exactly on at least one full block (if no
  * block agrees fully, at most one byte per block agrees — ≤ n − ⌈n/2⌉
  * ≤ n/2 bytes total). So inside a bucket too big for pairwise
  * emission, re-keying each row by its ⌈n/2⌉ (blockIndex, blockValue)
  * hashes and joining on the sub-key keeps every pair whose full-digest
  * agreement exceeds 1/2. When the funnel's runtime est-filter cut is
  * itself > 1/2 on the SAME digest (the MinHash funnels: `estCut` =
  * τ − 4σ over all n bytes), the candidate set after refinement is
  * bit-identical to the flat join's. When the runtime filter is
  * narrower — q_simjoin_prefix carries only a 16-byte digest SLICE with
  * cut 0.30 < 1/2 to keep the staged prefix stream small — the
  * refinement is no longer bit-identical versus that flat filter: a
  * junk pair can pass the 16-byte slice yet agree on no full-digest
  * block. For TRUE τ-pairs the full-digest anchor still holds
  * probabilistically: a τ = 0.8 pair's 64-byte agreement falls to ≤ 1/2
  * w.p. P[Binom(64, 0.8) ≤ 32] ≈ 3e-16 (~1e-14/pair end-to-end,
  * documented at the call site and oracle-audited every round), so the
  * pairs that can drop are overwhelmingly ones the exact verify would
  * kill anyway. Dissimilar bucket members (the pathological mass:
  * cross-replica collisions with ~random digests) collide on a given
  * 2-byte block w.p. ~2⁻¹⁶, so heavy-bucket emission drops from C(n,2)
  * to ~n·⌈n/2⌉ sub-key rows plus the (output-sized) truly-similar
  * matches. A pair agreeing on several blocks is emitted once per
  * agreeing block; the existing per-funnel `distinct` dedups, exactly
  * as it already did for pairs colliding in several bands.
  *
  * Worst case (documented, not optimized): a heavy bucket of
  * near-IDENTICAL digests emits each pair once per block (≤ ⌈n/2⌉×
  * the flat join) — but such a bucket's pairs are all true candidates,
  * so the output itself is quadratic there and the flat join is equally
  * doomed. Measured corpora put identical-digest families far below
  * every cap used; if that changes, group heavy-bucket rows by exact
  * digest first and expand group pairs after the est decision.
  *
  * Only buckets LARGER than the caller's cap are refined: light buckets
  * keep the single sentinel sub-key, so the plan is byte-for-byte the
  * r11 plan wherever no pathological bucket exists. xxhash64 collisions
  * on the sub-key can only ADD emitted pairs (killed by the est-filter
  * / verify as before), never drop one — block equality implies sub-key
  * equality.
  */
object BucketRefine {

  /** Whether 2-byte-block refinement is lossless for an `nBytes` digest
    * under agreement cut `estCut`: needs ⌈estCut·n⌉ > n − ⌈n/2⌉.
    * NOTE on framing (r13 advisory): this checks the cut against the
    * FULL digest the blocks are keyed from. A funnel whose runtime
    * filter uses that same full digest (Dedup.minhashNearDupPairs) gets
    * bit-identical candidates; a funnel whose runtime filter is a
    * narrower slice (q_simjoin_prefix's 16-byte carry) gets the
    * probabilistic true-pair guarantee described in the class doc — the
    * guard there documents the anchor cut no runtime filter enforces,
    * and exists to fail loud if a future tau pushes even the anchor
    * below 1/2.
    */
  def lossless(nBytes: Int, estCut: Double): Boolean =
    math.ceil(estCut * nBytes).toInt > nBytes - (nBytes + 1) / 2

  /** Sub-key ARRAY for one bucket row, to `explode`: the −1 sentinel
    * alone when `heavy` is false (light bucket — whole-bucket join,
    * unchanged semantics), else one xxhash64(blockIndex, blockBytes)
    * per 2-byte digest block. All codegen'd built-ins — no
    * higher-order-function lambdas (those are CodegenFallback, the r11
    * quantize lesson).
    */
  def subkeys(dg: Column, nBytes: Int, heavy: Column): Column = {
    // ⌈n/2⌉ blocks — for odd n the trailing block is the single
    // remainder byte (substring truncates naturally), keeping FULL
    // digest coverage, which is exactly what lossless()'s pigeonhole
    // bound assumes (r14 advisory: delegating to subkeysWide's
    // ⌊n/2⌋-block form silently dropped the last byte for odd n, so an
    // odd numHashes could lose pairs the bound claims it keeps; the
    // shorter tail block only strengthens the bound — ≤ 0 agreeing
    // bytes when it doesn't fully agree). Even n (the default 64) is
    // bit-identical to subkeysWide(_, n, 2, _).
    val blocks = (0 until (nBytes + 1) / 2).map { i =>
      xxhash64(lit(i), substring(dg, 2 * i + 1, 2))
    }
    when(heavy, array(blocks: _*)).otherwise(array(lit(-1L)))
  }

  /** [[subkeys]] of a heavy bucket row on the driver: one key per
    * ⌈n/2⌉ block, (block index, block bytes) packed exactly, so equal
    * keys mean equal blocks. */
  def blockKeys(dg: Array[Byte]): Seq[Long] =
    (0 until (dg.length + 1) / 2).map { k =>
      val lo = if (2 * k + 1 < dg.length) dg(2 * k + 1) & 0xff else 0
      (k.toLong << 16) | ((dg(2 * k) & 0xff) << 8) | lo
    }

  /** Expected fraction of TRUE τ-pairs dropped by width-`w` block
    * re-keying under the probabilistic full-digest anchor: each byte is
    * one MinHash value (agrees w.p. ≥ τ), blocks are byte-disjoint so
    * independent — P[no block fully agrees] = (1 − τ^w)^⌊n/w⌋. Width 2
    * on a filter cut > 1/2 is the special case where the pigeonhole
    * argument makes this structurally 0 relative to the filter.
    */
  def anchorLoss(nBytes: Int, width: Int, tau: Double): Double =
    math.pow(1.0 - math.pow(tau, width.toDouble), (nBytes / width).toDouble)

  /** Width-`w` generalization of [[subkeys]] (r14, the third-decade
    * superlinearity fix): ⌊n/w⌋ disjoint `w`-byte blocks (a trailing
    * n mod w remainder is deliberately UNUSED — a short tail block
    * would collide on junk pairs w.p. ~2^(−8·(n mod w)), dominating
    * the w-byte junk rate the width was chosen for; [[anchorLoss]]
    * uses the same ⌊n/w⌋ so the guard and the enumeration agree.
    * This is the probabilistic-anchor path — callers needing the
    * lossless() pigeonhole must use [[subkeys]], which covers every
    * byte). Wider blocks trade anchor strength
    * for junk-collision rate: a junk pair with per-byte digest
    * agreement j collides on a w-byte block w.p. ~j^w + 2^(−8w), so
    * w = 3 cuts the dominant cross-replica term (j ≈ 0.01–0.05 on
    * replicated corpora) by ~10²–10³ versus w = 2 while a true τ = 0.8
    * pair still anchors with loss ≤ 3e-7 (see [[anchorLoss]] — callers
    * must gate on it). Emission duplication also drops: ⌊n/w⌋ keys per
    * heavy row instead of ⌈n/2⌉.
    */
  def subkeysWide(dg: Column, nBytes: Int, width: Int, heavy: Column): Column = {
    val blocks = (0 until nBytes / width).map { i =>
      xxhash64(lit(i), substring(dg, width * i + 1, width))
    }
    when(heavy, array(blocks: _*)).otherwise(array(lit(-1L)))
  }
}
