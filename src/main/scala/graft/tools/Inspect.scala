package graft.tools

import java.io.PrintStream
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry, StageCollector}

/** One query's result, plans, stages or scans, on the session Bench and
  * Verify run:
  *
  * `tools/runmain.sh graft.tools.Inspect <query|all> [--show|--plan|--final|--stages|--scans] [sfDir] [reps]`
  *
  *  - `--show`: the first 200 result rows.
  *  - `--plan` (default): the formatted physical plan before execution.
  *  - `--final`: the plan that ran, taken from the `noop` write's own
  *    execution, so adaptive plans show `isFinalPlan=true`.
  *  - `--stages`: per-stage wall/run/cpu/input/shuffle/spill lines, each
  *    marked `construct` (ran while the DataFrame was built) or `execute`
  *    (ran in the `noop` write). With `reps` > 1 the query runs that many
  *    times from cleared caches and memos, and the last (JIT-warm) run
  *    is printed. Stages of background builds land in whichever phase
  *    they complete in.
  *  - `--scans`: parquet scans per input table in the static physical
  *    plan (AQE off, on a new session). A table scanned 3+ times hints
  *    at a shared subtree each consumer re-derives.
  *
  * `sfDir` defaults to [[graft.Sessions.sfDir]], as in Bench.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    require(rest.nonEmpty && flags.size <= 1,
      "usage: Inspect <query|all> [--show|--plan|--final|--stages|--scans] [sfDir] [reps]")
    val sfDir = rest.lift(1).getOrElse(Sessions.sfDir)
    val spark = Sessions.start(logLevel = "ERROR")
    try run(spark, rest.head, flags.headOption.getOrElse("--plan"), sfDir,
      rest.lift(2).fold(1)(_.toInt))
    finally spark.stop()
  }

  private val Modes = Seq("--show", "--plan", "--final", "--stages", "--scans")

  def run(spark: SparkSession, query: String, mode: String, sfDir: String,
      reps: Int = 1, out: PrintStream = System.out): Unit = {
    require(Modes.contains(mode), s"unknown mode $mode; one of ${Modes.mkString(" ")}")
    val names = if (query == "all") SparkEntry.queries.keys.toSeq.sorted else Seq(query)
    for (name <- names) {
      val build = SparkEntry.queries(name)
      out.println(s"======== $name $mode ========")
      try mode match {
        case "--show" => Console.withOut(out)(build(spark, sfDir).show(200, false))
        case "--plan" =>
          out.println(build(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
        case "--final" => out.println(finalPlan(build(spark, sfDir)))
        case "--stages" => stages(spark, name, build(spark, _), sfDir, reps, out)
        case "--scans" =>
          // the static plan: AdaptiveSparkPlanExec hides its tree from
          // collect(). Off on a new session, not on the caller's.
          val static = spark.newSession()
          static.conf.set("spark.sql.adaptive.enabled", "false")
          out.println(scans(build(static, sfDir)))
      } catch {
        case e: Exception => out.println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  private def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `df.queryExecution` is not the execution a write runs: the write
    * plans its own, so only that one's adaptive plan is finalized. */
  private[graft] def finalPlan(df: DataFrame): String = {
    val spark = df.sparkSession
    val ran = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) ran.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write(df)
      GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    ran.asScala.lastOption.fold("(the write reported no execution)")(_.executedPlan.toString)
  }

  private def stages(spark: SparkSession, name: String, build: String => DataFrame,
      sfDir: String, reps: Int, out: PrintStream): Unit = {
    val collector = StageCollector.attach(spark.sparkContext)
    try {
      var last = Seq.empty[(String, StageCollector.Phase)]
      for (rep <- 1 to reps) {
        spark.catalog.clearCache()
        graft.ops.SharedBuilds.invalidate()
        collector.take()
        val t0 = System.nanoTime()
        val df = build(sfDir)
        val construct = collector.take()
        val t1 = System.nanoTime()
        write(df)
        val execute = collector.take()
        val t2 = System.nanoTime()
        out.println(f"RUN $rep $name: construct ${(t1 - t0) / 1e9}%.2f s " +
          f"(${construct.jobs} jobs, ${construct.stages.size} stages), execute " +
          f"${(t2 - t1) / 1e9}%.2f s (${execute.jobs} jobs, ${execute.stages.size} stages)")
        last = Seq("construct" -> construct, "execute" -> execute)
      }
      for ((phase, p) <- last; s <- p.stages.sortBy(_.id)) out.println(f"$phase%-9s ${s.line}")
    } finally collector.stop()
  }

  private def scans(df: DataFrame): String = {
    // tree traversal, NOT string grep: InMemoryRelation renders its
    // cached child plan into the string but collect() does not descend
    // into it, so persisted (staged) subtrees — whose scans never
    // re-execute — are not counted.
    val table = "([a-z_0-9]+)\\.parquet".r
    val byTable = df.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec =>
        f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?") }
      .flatMap(l => table.findFirstMatchIn(l).map(_.group(1)))
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy { case (t, n) => (-n, t) }
    if (byTable.isEmpty) "no parquet scans"
    else byTable.map { case (t, n) => s"$t x$n" }.mkString(", ")
  }
}
