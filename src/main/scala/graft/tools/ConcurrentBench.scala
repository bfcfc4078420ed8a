package graft.tools

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheBridge

import graft.queries.QueryDef

/** Concurrent-session throughput + isolation check: Bench runs one
  * query at a time, but a real cluster multiplexes sessions over one
  * shared context — concurrent stages contend for cores, and staged
  * frames ([[graft.ops.Staging]]) see concurrent writers/readers of
  * identical plans from DIFFERENT sessions, which one stream never
  * exercises.
  *
  * Shape: TPC-H-style throughput run. `streams` worker threads each own
  * a `SparkSession.newSession()` (isolated SQLConf/temp views, shared
  * SparkContext) and run the query list in a stream-specific rotation,
  * so the mix of in-flight operators differs per stream while every
  * query still runs `streams` times. Every run, the single-stream
  * reference pass's too, goes through [[graft.Runner]] with the
  * fingerprint as its sink, so it releases its own stages and no other
  * stream's.
  *
  * Isolation check: every result is reduced to an ORDER-INDEPENDENT
  * fingerprint — sum + bit_xor of xxhash64 over the canonicalized row
  * (doubles rounded to 9 places first: concurrent plans may aggregate
  * in different partition orders, and the library's own oracle contract
  * rounds every published double) plus the row count. Any concurrent
  * result that diverges from the reference pass's is a cross-session
  * corruption.
  *
  * `ConcurrentBench [sfDir] [streams]` (defaults [[graft.Sessions.sfDir]],
  * [[graft.Sessions.cpus]]) prints one JSON line:
  * `{"streams":N,"n_queries":Q,"wall_s":…,"stream_seconds":[…],
  *   "single_stream_s":…,"throughput_x":…,"n_mismatch":0,"mismatches":[],
  *   "cached_plans_left":false,"sf":…}`
  * where throughput_x = (streams × single_stream_s) / wall_s (1.0 = no
  * benefit over serial streams, `streams` = perfectly free), and
  * cached_plans_left says whether the CacheManager still holds a plan.
  */
object ConcurrentBench {

  /** Mixed list: TPC-H joins/aggs, window funnels, text kernels, and
    * the staged/closure and heavy funnel families, whose staged frames
    * and PairFunnel builds are the biggest concurrent-session surface.
    */
  private val QueryList: Seq[String] = Seq(
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q18",
    "q_corpus_pipeline", "q_provenance", "q_dedup_minhash",
    "q_component_labels", "q_active_users", "q_topk_per_group",
    "q_bm25", "q_histogram",
    "q_simjoin_prefix", "q_substring_dup", "q_semdedup",
    "q_dedup_minhash_pairs")

  private def fingerprint(df: DataFrame): (Long, Long, Long) = {
    // round doubles so partition-order-dependent float accumulation
    // cannot flip the last ulp between runs (same tolerance the DuckDB
    // compare applies); then one order-independent (sum, xor) pair.
    val canon = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType =>
          round(col(f.name), 9).as(f.name)
        case org.apache.spark.sql.types.FloatType =>
          round(col(f.name).cast("double"), 6).as(f.name)
        case _ => col(f.name)
      }
    }
    val h = df.select(canon: _*)
      .select(xxhash64(struct(col("*"))).as("h"))
    // sum the two 32-bit halves separately: a plain sum(h) over BIGINT
    // hashes overflows Long within a few million rows and ANSI mode
    // throws; each half-sum stays under 2^63 to ~2^31 rows, and the
    // wrap-combining below happens in JVM arithmetic (wraps silently)
    val r = h.agg(
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)).as("slo"),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("shi"),
        coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
        count(lit(1)).as("n"))
      .head()
    val s = r.getLong(0) * 0x9e3779b97f4a7c15L ^ r.getLong(1)
    (s, r.getLong(2), r.getLong(3))
  }

  /** Runs `d` through [[graft.Runner]] with its fingerprint as the
    * sink: the run releases its own stages and no other stream's. */
  private def fingerprinted(spark: SparkSession, d: QueryDef,
      sfDir: String): Either[String, (Long, Long, Long)] = {
    var fp: (Long, Long, Long) = null
    val r = graft.Runner.run(spark, d, sfDir, df => fp = fingerprint(df))
    r.err.map(e => Option(e.getMessage).getOrElse(e.getClass.getName).take(120)).toLeft(fp)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(graft.Sessions.sfDir)
    val streams = args.lift(1).map(_.toInt).getOrElse(graft.Sessions.cpus)
    val root = graft.Sessions.start(graft.Sessions.builder()
      // FAIR pools: FIFO starves late streams behind early ones' big
      // stages; fair sharing is what a multiplexing cluster runs.
      .config("spark.scheduler.mode", "FAIR"))

    val defs = QueryList.map(q => q -> graft.SparkEntry.defs.find(_.name == q).get).toMap
    // single-stream reference pass: expected fingerprint per query +
    // the serial wall for the throughput_x denominator
    val t0 = System.nanoTime()
    val expected: Map[String, (Long, Long, Long)] = QueryList.map { q =>
      q -> fingerprinted(root, defs(q), sfDir)
        .fold(msg => throw new IllegalStateException(s"reference pass: $q: $msg"), identity)
    }.toMap
    val singleS = (System.nanoTime() - t0) / 1e9

    val pool = Executors.newFixedThreadPool(streams)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val w0 = System.nanoTime()
    val futures = (0 until streams).map { s =>
      Future {
        val sess = root.newSession()
        val rotated = QueryList.drop(s % QueryList.size) ++
          QueryList.take(s % QueryList.size)
        val st0 = System.nanoTime()
        val mismatches = rotated.flatMap { q =>
          fingerprinted(sess, defs(q), sfDir) match {
            case Right(got) if got == expected(q) => None
            case Right(got) =>
              Some(s"""{"stream":$s,"q":"$q","kind":"fingerprint","got":"$got","want":"${expected(q)}"}""")
            case Left(msg) =>
              Some(s"""{"stream":$s,"q":"$q","kind":"error","msg":"${msg.replace("\"", "'")}"}""")
          }
        }
        (s, (System.nanoTime() - st0) / 1e9, mismatches)
      }
    }
    val results = Await.result(Future.sequence(futures), Duration.Inf)
    val wallS = (System.nanoTime() - w0) / 1e9
    pool.shutdown()

    val streamSecs = results.sortBy(_._1).map(r => f"${r._2}%.1f").mkString(",")
    val mismatches = results.flatMap(_._3)
    println(
      s"""{"streams":$streams,"n_queries":${QueryList.size},""" +
        f""""wall_s":$wallS%.1f,"stream_seconds":[$streamSecs],""" +
        f""""single_stream_s":$singleS%.1f,""" +
        f""""throughput_x":${streams * singleS / wallS}%.2f,""" +
        s""""n_mismatch":${mismatches.size},""" +
        s""""mismatches":[${mismatches.take(8).mkString(",")}],""" +
        s""""cached_plans_left":${!CacheBridge.noCachedPlans(root)},""" +
        s""""sf":"$sfDir"}""")
    root.stop()
  }
}
