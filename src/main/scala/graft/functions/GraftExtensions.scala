package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnBridge

/** SQL-side registration of the graft functions, so the SQL front end
  * (`spark.sql`) has the same surface as the Column API in [[exprs]]:
  * a kernel's SQL builder calls its Column facade.
  *
  * Production route: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`); for
  * an already-built session use
  * [[org.apache.spark.sql.graft.GraftFunctionRegistry.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctionDefs.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // auto-rewrite of naive point-in-interval joins to the binned
    // hash-join form; for an already-built session use
    // `spark.experimental.extraOptimizations ++= Seq(RangeJoinRule(spark))`
    ext.injectOptimizerRule(s => graft.plans.RangeJoinRule(s))
    // physical as-of join (AsOfJoinNode → AsOfJoinExec); live-session
    // route: graft.plans.AsOfJoinPhysical.ensure(spark)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy())
  }
}

object GraftFunctionDefs {
  type Builder = Seq[Expression] => Expression

  /** Literal int/long argument extraction (e.g. `simhash64(text, 3)`) —
    * the shape/seed parameters are kernel constants, not runtime
    * columns, so they must be foldable literals in SQL.
    */
  private def lit(e: Expression, fn: String): Long = {
    require(e.foldable, s"$fn: parameter arguments must be literals")
    e.eval().asInstanceOf[Number].longValue
  }

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def sql(c: Column): Expression = ColumnBridge.expression(c)

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", name, usage, "", "", "", "", "", "", "", "")

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("rolling_hash",
      info("rolling_hash", "rolling_hash(text) - 64-bit Karp-Rabin content fingerprint"),
      (c: Seq[Expression]) => sql(exprs.rolling_hash(col(c.head)))),
    ("simhash64",
      info("simhash64", "simhash64(text[, n]) - 64-bit SimHash over char n-grams (default n=3)"),
      (c: Seq[Expression]) => sql(exprs.simhash64(col(c.head),
        if (c.length > 1) lit(c(1), "simhash64").toInt else 3))),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(text, n, k, seed) - k-permutation MinHash signature"),
      (c: Seq[Expression]) => sql(exprs.minhash_sig(col(c.head),
        lit(c(1), "minhash_sig").toInt, lit(c(2), "minhash_sig").toInt, lit(c(3), "minhash_sig")))),
    ("shingle_set",
      info("shingle_set", "shingle_set(text, n) - sorted distinct char n-gram hashes"),
      (c: Seq[Expression]) => sql(exprs.shingle_set(col(c.head), lit(c(1), "shingle_set").toInt))),
    ("jaccard_sorted",
      info("jaccard_sorted", "jaccard_sorted(a, b) - Jaccard of sorted int arrays"),
      (c: Seq[Expression]) => sql(exprs.jaccard_sorted(col(c.head), col(c(1))))),
    ("cosine_f",
      info("cosine_f", "cosine_f(a, b) - cosine similarity of float arrays"),
      (c: Seq[Expression]) => sql(exprs.cosine_f(col(c.head), col(c(1))))),
    ("dot_f",
      info("dot_f", "dot_f(a, b) - dot product of float arrays"),
      (c: Seq[Expression]) => sql(exprs.dot_f(col(c.head), col(c(1))))),
    ("hyperplane_sig",
      info("hyperplane_sig", "hyperplane_sig(vec, planes, dim, seed) - sign-LSH bucket"),
      (c: Seq[Expression]) => sql(exprs.hyperplane_sig(col(c.head),
        lit(c(1), "hyperplane_sig").toInt, lit(c(2), "hyperplane_sig").toInt,
        lit(c(3), "hyperplane_sig")))),
    // aggregates register like scalars — the analyzer wraps a returned
    // AggregateFunction in its AggregateExpression
    ("topk_by_score",
      info("topk_by_score", "topk_by_score(score, id, k) - bounded-heap per-group top-k"),
      (c: Seq[Expression]) => TopKByScore(c.head, c(1),
        lit(c(2), "topk_by_score").toInt)),
    ("smallest_k",
      info("smallest_k",
        "smallest_k(hi, lo, k) - bounded-heap k smallest (hi, lo) long pairs, " +
          "ascending; k per-group-constant, read from the rows"),
      (c: Seq[Expression]) => PrefixSmallestK(c.head, c(1), c(2))),
    ("count_min",
      info("count_min", "count_min(token, depth, width, seed) - count-min sketch table"),
      (c: Seq[Expression]) => CountMinAgg(c.head,
        lit(c(1), "count_min").toInt, lit(c(2), "count_min").toInt,
        lit(c(3), "count_min"))),
    ("cm_estimate",
      info("cm_estimate", "cm_estimate(sketch, token, depth, width, seed) - sketch point estimate"),
      (c: Seq[Expression]) => sql(CountMin.estimate(col(c.head), col(c(1)),
        lit(c(2), "cm_estimate").toInt, lit(c(3), "cm_estimate").toInt,
        lit(c(4), "cm_estimate")))),
    ("luhn_card_count",
      info("luhn_card_count",
        "luhn_card_count(text) - count of 13-19-digit runs passing the Luhn mod-10 check"),
      // explicit cast: the kernel reads UTF8String, and ImplicitCastInputTypes
      // is closed to this package (AbstractDataType is private[sql]) —
      // without it luhn_card_count(int_col) ClassCastExceptions at runtime
      (c: Seq[Expression]) =>
        sql(exprs.luhn_card_count(col(Cast(c.head, org.apache.spark.sql.types.StringType))))),
    ("percentile_spill",
      info("percentile_spill",
        "percentile_spill(value, array(p, ...)[, spill_threshold]) - exact interpolated " +
          "percentiles with a disk-spilling buffer (built-in percentile arithmetic)"),
      (c: Seq[Expression]) => {
        require(c(1).foldable, "percentile_spill: the percentile array must be literal")
        val et = c(1).dataType match {
          case org.apache.spark.sql.types.ArrayType(t, _) => t
          case other => throw new IllegalArgumentException(
            s"percentile_spill: expected an array of percentiles, got $other")
        }
        val arr = c(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        // SQL numeric literals arrive as Decimal; Column-API as Double
        val ps = (0 until arr.numElements()).map { i =>
          arr.get(i, et) match {
            case d: org.apache.spark.sql.types.Decimal => d.toDouble
            case n: java.lang.Number => n.doubleValue()
            case other => throw new IllegalArgumentException(
              s"percentile_spill: non-numeric percentile $other")
          }
        }
        // explicit double cast (update() reads the child as Double; SQL
        // callers legitimately pass int/decimal columns and the package
        // cannot use ImplicitCastInputTypes — AbstractDataType is
        // private[sql])
        val v = Cast(c.head, org.apache.spark.sql.types.DoubleType)
        if (c.length > 2) SpillablePercentile(v, ps, lit(c(2), "percentile_spill").toInt)
        else SpillablePercentile(v, ps)
      })
  )
}
