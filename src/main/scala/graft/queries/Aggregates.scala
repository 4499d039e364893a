package graft.queries

import org.apache.spark.sql.functions._
import QueryDSL._

/** Aggregations — SURVEY.md §2b "Aggregations". All sums over doubles use exact decimal
  * accumulation (see QueryDSL) so results are partitioning-independent: at 1000
  * executors the partial-agg combine order differs run to run, and a double sum would
  * not be reproducible. Catalyst gives partial (map-side) aggregation automatically. */
object Aggregates {

  val queries: Seq[Q] = Seq(
    // TPC-H Q1-style pricing summary — the flagship aggregation.
    Q("agg_pricing_summary",
      (s, dir) => {
        import s.implicits._
        // The narrow projection is spread on a high-cardinality column so the
        // decimal work is core-parallel; decimal sums are
        // partitioning-independent, and the groupBy output is 4 rows.
        spread(t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .select($"l_returnflag", $"l_linestatus", $"l_quantity",
            $"l_extendedprice", $"l_discount", $"l_tax"), $"l_extendedprice")
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            dsum($"l_extendedprice").as("sum_base_price"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"), 8).as("sum_disc_price"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"), 8)
              .as("sum_charge"),
            davg($"l_quantity").as("avg_qty"),
            davg($"l_extendedprice").as("avg_price"),
            davg($"l_discount", 8).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${sqlDsum("l_quantity")} AS sum_qty,
              |  ${sqlDsum("l_extendedprice")} AS sum_base_price,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount)", 8)} AS sum_disc_price,
              |  ${sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 8)} AS sum_charge,
              |  ${sqlDavg("l_quantity")} AS avg_qty,
              |  ${sqlDavg("l_extendedprice")} AS avg_price,
              |  ${sqlDavg("l_discount", 8)} AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("agg_global",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").agg(
          count(lit(1)).as("n"),
          dsum($"o_totalprice").as("total"),
          min($"o_totalprice").as("min_price"),
          max($"o_totalprice").as("max_price"),
          min($"o_orderdate").as("first_date"),
          max($"o_orderdate").as("last_date"))
      },
      Some(s"""SELECT COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total,
              |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
              |  MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date
              |FROM orders""".stripMargin)),

    Q("agg_count_distinct",
      (s, dir) => {
        import s.implicits._
        // Conditional distinct counts (null inputs are ignored by COUNT
        // DISTINCT on both engines): unfiltered, every group covers all 100
        // suppliers / 2000 parts, so the distinct counts would be constant
        // across groups — green even if the operator silently returned the
        // domain size. The filters keep per-group values distinct.
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            countDistinct(when($"l_quantity" >= 49 && $"l_extendedprice" > 90000,
              $"l_suppkey")).as("n_supp"),
            countDistinct(when($"l_extendedprice" > 90000, $"l_partkey"))
              .as("n_part"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  COUNT(DISTINCT l_suppkey)
             |    FILTER (l_quantity >= 49 AND l_extendedprice > 90000) AS n_supp,
             |  COUNT(DISTINCT l_partkey)
             |    FILTER (l_extendedprice > 90000) AS n_part,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))
  )
}
