package graft.dist

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint checking — the validation gate a
  * training-data pipeline runs before promoting a batch (the role Deequ /
  * dbt tests play in warehouse stacks), re-expressed as plain Catalyst
  * aggregates.
  *
  * Scale design: every row-local rule (null rate, range, predicate)
  * compiles to ONE conditional-count column in a single shared aggregate —
  * adding rules does not add scans. Only rules that inherently need their
  * own shuffle get one: uniqueness (a count-distinct-shaped aggregate on
  * the key) and referential integrity (an anti-join against the reference
  * key set, bloom-prunable at scale via [[Joins.bloomAntiJoin]]). All
  * metrics are exact integer counts ratioed in double at the boundary, so
  * results are bit-deterministic and cross-engine checkable. */
object Checks {

  /** One constraint: `name` labels the output row; `violations` counts rows
    * breaking the rule; `metric` = violations / rows; pass ⟺ metric ≤
    * `tolerance` (default 0 = no violations allowed). */
  sealed trait Check { def name: String; def tolerance: Double }

  /** Column must be non-null (and non-NaN for floating columns). */
  final case class NotNull(colName: String, tolerance: Double = 0.0)
      extends Check { val name = s"not_null($colName)" }

  /** Column values must fall in [lo, hi] (nulls don't violate — compose
    * with [[NotNull]] to forbid them). */
  final case class InRange(colName: String, lo: Double, hi: Double,
                           tolerance: Double = 0.0)
      extends Check { val name = s"in_range($colName,$lo,$hi)" }

  /** Arbitrary row predicate (SQL expression string) that must hold. */
  final case class Satisfies(exprSql: String, label: String,
                             tolerance: Double = 0.0)
      extends Check { val name = s"satisfies($label)" }

  /** The column tuple must be unique across the frame. Violations = rows
    * beyond the first of each duplicated tuple. */
  final case class Unique(cols: Seq[String], tolerance: Double = 0.0)
      extends Check { val name = s"unique(${cols.mkString(",")})" }

  /** Referential integrity: every non-null value of `colName` must exist in
    * `refCol` of the reference frame. */
  final case class SubsetOf(colName: String, ref: DataFrame, refCol: String,
                            tolerance: Double = 0.0)
      extends Check { val name = s"subset_of($colName)" }

  /** Row-local violation predicate for `c`, or None when the rule needs its
    * own aggregate/join (Unique, SubsetOf). */
  private def isViolated(df: DataFrame, c: Check): Option[Column] = c match {
    case NotNull(cn, _) =>
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      val x = df(cn)
      Some(df.schema(cn).dataType match {
        case DoubleType | FloatType => x.isNull || isnan(x)
        case _ => x.isNull
      })
    case InRange(cn, lo, hi, _) =>
      val x = df(cn).cast("double")
      Some(x.isNotNull && !isnan(x) && (x < lo || x > hi))
    case Satisfies(e, _, _) => Some(!coalesce(expr(e), lit(false)))
    case _ => None // needs its own aggregate/join
  }

  /** The conditional-count aggregation columns and per-rule result structs
    * for a set of row-local rules, for [[validate]]. The sum is coalesced:
    * over a 0-row frame `sum` is NULL while a rule over nothing has zero
    * violations. Internal aliases are positional (rule names carry dots,
    * which column resolution would read as nested-field access). */
  private def ruleCounts(rowLocal: Seq[(Check, Column)])
      : (Seq[Column], Seq[Column]) = {
    val aggs = count(lit(1)).as("n") +:
      rowLocal.zipWithIndex.map { case ((_, v), i) =>
        coalesce(sum(when(v, 1L).otherwise(0L)), lit(0L)).as(s"v$i") }
    val entries = rowLocal.zipWithIndex.map { case ((c, _), i) =>
      struct(lit(c.name).as("check"), col("n").as("n_rows"),
        col(s"v$i").as("n_violations"), lit(c.tolerance).as("tol"))
    }
    (aggs, entries)
  }

  /** Evaluate all checks. Output: (check, n_rows, n_violations, metric,
    * pass), ordered by check name. */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check required")
    val rowLocal = checks.flatMap(c => isViolated(df, c).map(c -> _))
    val scanned: Seq[DataFrame] =
      if (rowLocal.isEmpty) Nil
      else {
        // one shared scan: every row-local rule is a conditional count in
        // the SAME aggregate, and the single result row is exploded into
        // per-rule rows — re-selecting the aggregate once per rule would
        // let Catalyst clone the whole scan per union branch.
        val (aggs, entries) = ruleCounts(rowLocal)
        Seq(df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(entries: _*)).as("e"))
          .select(col("e.check").as("check"), col("e.n_rows").as("n_rows"),
            col("e.n_violations").as("n_violations"), col("e.tol").as("tol")))
      }
    val heavy: Seq[DataFrame] = checks.collect {
      case c @ Unique(cols, _) =>
        val dup = df.groupBy(cols.map(df(_)): _*).agg(count(lit(1)).as("cnt"))
        dup.agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n"),
          coalesce(sum(col("cnt") - 1), lit(0L)).as("v"))
          .select(lit(c.name).as("check"), col("n").as("n_rows"),
            col("v").as("n_violations"), lit(c.tolerance).as("tol"))
      case c @ SubsetOf(cn, ref, refCol, _) =>
        // one scan of the validated frame: a left join against the distinct
        // reference keys yields the row count AND the orphan count in the
        // same aggregate (a separate anti-join would scan the fact twice)
        val refKeys = ref.select(ref(refCol).as(cn)).distinct()
          .withColumn("__ref_present", lit(true))
        df.where(df(cn).isNotNull)
          .join(refKeys, Seq(cn), "left")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("__ref_present").isNull, 1L).otherwise(0L)),
              lit(0L)).as("v"))
          .select(lit(c.name).as("check"), col("n").as("n_rows"),
            col("v").as("n_violations"), lit(c.tolerance).as("tol"))
    }
    (scanned ++ heavy).reduce(_.unionByName(_))
      .select(col("check"), col("n_rows"), col("n_violations"),
        // 0-row frames: a rule over nothing has nothing to violate
        when(col("n_rows") > 0,
          round(col("n_violations").cast("double") / col("n_rows"), 9))
          .otherwise(lit(0.0)).as("metric"),
        (when(col("n_rows") > 0,
          col("n_violations").cast("double") / col("n_rows"))
          .otherwise(lit(0.0)) <= col("tol")).as("pass"))
      .orderBy("check")
  }
}
