package graft.ops

import scala.util.DynamicVariable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.sources.Tables

/** The one home of size knowledge. It is the only parquet footer
  * reader (rows and bytes without a Spark job), and it holds each
  * performance crossover as a named constant next to the measurement
  * that set it; call sites ask it a named question. Two size formulas
  * change results, so they stay beside the DuckDB mirrors that replay
  * them and only read N here: `Similarity.capFitSample`'s cap and
  * `AnnQueries.fractionRerank`'s N/20.
  */
object Scale {

  /** At most `rows` rows, whose uncompressed row groups total `bytes`. */
  final case class Bound(rows: Long, bytes: Long)

  /** The parquet files `p` reads when it is only projections, filters
    * and unions over parquet scans, and whether it passes no filter (so
    * their rows are exactly its rows). None for any other plan. Callers
    * pass the analyzed plan: the optimized one has an `InMemoryRelation`
    * where a persisted plan stands, so a staged frame (or one equal to a
    * plan another scope staged) would lose its bound.
    */
  private def scanned(p: LogicalPlan): Option[(Seq[String], Boolean)] = p match {
    case Project(_, c) => scanned(c)
    case SubqueryAlias(_, c) => scanned(c)
    case Filter(_, c) => scanned(c).map { case (files, _) => (files, false) }
    case u: Union =>
      u.children.foldLeft(Option((Seq.empty[String], true))) { (acc, c) =>
        for ((files, exact) <- acc; (more, e) <- scanned(c)) yield (files ++ more, exact && e)
      }
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        Some((fs.location.inputFiles.toSeq, true))
      case _ => None
    }
    case _ => None
  }

  /** Summed record counts and uncompressed row-group sizes of `files`. */
  private def footerSums(spark: SparkSession, files: Seq[String]): Bound = {
    val conf = spark.sessionState.newHadoopConf()
    files.foldLeft(Bound(0L, 0L)) { (acc, f) =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try {
        var bytes = 0L
        r.getRowGroups.forEach(g => bytes += g.getTotalByteSize)
        Bound(acc.rows + r.getRecordCount, acc.bytes + bytes)
      } finally r.close()
    }
  }

  /** A frame's bound from the footers of the files it scans (a union
    * sums its children); None when [[scanned]] gives none or a footer
    * cannot be read. */
  def bound(df: DataFrame): Option[Bound] =
    scanned(df.queryExecution.analyzed).flatMap { case (files, _) =>
      try Some(footerSums(df.sparkSession, files)) catch { case NonFatal(_) => None }
    }

  /** A frame's exact row count: the footers' when it scans parquet
    * through projections and unions only (no job), else a `count()`. */
  def rows(df: DataFrame): Long = scanned(df.queryExecution.analyzed) match {
    case Some((files, true)) => footerSums(df.sparkSession, files).rows
    case _ => df.count()
  }

  /** The rows of table `name` as [[Tables.load]] reads it: the footers'
    * count, so sizing choices put no job in their query's graph, or in
    * the sampled-oracle mode (`SPARK_GRAFT_TBL_SAMPLE`) a count of the
    * sampled view, which the mirrored DuckDB oracle counts too. */
  def tableRows(spark: SparkSession, dir: String, name: String): Long =
    rows(Tables.load(spark, dir, name))

  /** Footer bytes up to which [[Tables.spreadForKernel]] leaves a frame
    * on the scan's own task. Measured warm on a 4-core host: kernel wall
    * to a noop sink (median of 15) on one task vs spread over 4, on
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
    * (.100 vs .121 s); it uses `Tables.roundRobinSpread`, as do the
    * kernels not in this table.
    */
  val SpreadMinBytes: Long = 176L << 10

  /** Corpora whose footers prove at most this many rows (and
    * [[FunnelMaxBytes]]) run the near-dup funnel on the driver
    * (`Dedup.minhashNearDupPairs`). Measured on 4 cores (funnel +
    * labels, warm median): 5k docs 0.63 s driver vs 2.46 s distributed,
    * 20k 1.83 vs 3.53 s, 80k 7.36 vs 9.37 s, 160k 15.96 vs 17.43 s, so
    * the crossover there is near 160k docs. The driver pass is one
    * thread while the distributed one scales with cores, so the bound
    * is an eighth of that crossover.
    */
  val FunnelMaxRows: Long = 20000L
  /** Caps one funnel collect (20k sf-style docs are ~6 MB). */
  val FunnelMaxBytes: Long = 32L << 20
  /** Caps the candidate and verified pairs the driver funnel may hold:
    * a family of m copies is m(m-1)/2 pairs, so a few thousand copies of
    * one page in a small file would otherwise fill the driver heap. Past
    * the cap the corpus takes the distributed funnel, which checkpoints
    * its pairs. Eight partners per doc at the row bound (160k). */
  def funnelMaxPairs: Int = 8 * limits.value.funnelMaxRows.toInt

  /** Edges up to which `Dedup.componentMinLabels` labels on the driver:
    * its one probe collect either is the whole pair set or proves the
    * graph bigger, and the distributed contraction rounds hand off to a
    * local union-find once the contracted edges fall to this count. A
    * full probe at the limit is at most ~32 MB of longs. On a 256-edge
    * pair set the local finish took the closure from 3.5 s to ~0.3 s.
    */
  val ClosureMaxEdges: Long = 2L * 1000 * 1000

  /** Source docs above which q_novelty takes its scale shape. No
    * crossover was timed between sf0.1 and sf10; q_novelty's comment has
    * the sf10 stage profile that showed the small plan's two defects. */
  val NoveltyMaxDocs: Long = 200000L

  /** Source docs above which q_simjoin_prefix ranks grams by exact df
    * instead of the sampled heavy-gram map. The map's 2M-entry cap must
    * hold the df ≥ 40 gram tail: the r13/r14 GramDfProbe measured the
    * df ≥ 64 tail at 1.4M grams at 5M docs (about linear in docs), so
    * the cap saturates near ~7M docs, and a 2M-row driver collect has no
    * place in a default plan past that. Below it the sampled map is
    * faster (r16_simjoin_exactdf_ab.json: exact = 2.31x sampled at 500k
    * docs). Both modes verify every surviving pair exactly.
    */
  val SimjoinSampledMaxDocs: Long = 6L * 1000 * 1000

  /** The crossovers in force: the constants above and the fit cap. */
  private[graft] final case class Limits(
      spreadMinBytes: Long = SpreadMinBytes,
      funnelMaxRows: Long = FunnelMaxRows,
      closureMaxEdges: Long = ClosureMaxEdges,
      fitSampleMax: Long = Similarity.MaxFitSample,
      simjoinSampledMaxDocs: Long = SimjoinSampledMaxDocs)

  private val limits = new DynamicVariable(Limits())

  /** Runs `body` with changed [[Limits]]: the one seam, for specs that
    * force a side of a crossover (`funnelMaxRows = 0` forces the
    * distributed funnel). The program never changes the limits. */
  private[graft] def forcing[T](change: Limits => Limits)(body: => T): T =
    limits.withValue(change(limits.value))(body)

  /** Whether a per-row kernel over `df` may stay on the scan's one task:
    * its footers prove at most [[SpreadMinBytes]] uncompressed. */
  def kernelFitsOneTask(df: DataFrame): Boolean =
    bound(df).exists(_.bytes <= limits.value.spreadMinBytes)

  /** Whether the near-dup funnel over `docs` may run on the driver: its
    * footers prove at most [[FunnelMaxRows]] rows and [[FunnelMaxBytes]]
    * uncompressed. */
  def funnelOnDriver(docs: DataFrame): Boolean = {
    val maxRows = limits.value.funnelMaxRows
    maxRows > 0 && bound(docs).exists(b => b.rows <= maxRows && b.bytes <= FunnelMaxBytes)
  }

  /** [[ClosureMaxEdges]] in force. */
  def closureMaxEdges: Long = limits.value.closureMaxEdges

  /** The fit cap in force (`Similarity.MaxFitSample`). */
  def fitSampleMax: Long = limits.value.fitSampleMax

  /** Whether q_novelty over `docs` source docs takes its scale shape. */
  def noveltyAtScale(docs: Long): Boolean = docs > NoveltyMaxDocs

  /** Whether q_simjoin_prefix over `docs` source docs ranks by exact df. */
  def simjoinExactDf(docs: Long): Boolean = docs > limits.value.simjoinSampledMaxDocs
}
