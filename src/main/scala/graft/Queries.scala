package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.HashExpressions.native
import graft.sources.Tables
import graft.sql.SqlRunner

/** The declared query inventory (SURVEY.md §2b Q1–Q32 + §2c extensions).
  *
  * The reference delegates its entire relational surface to Postgres by
  * embedding user SQL in `COPY (...) TO STDOUT`
  * (`/root/reference/src/airflow_postgres_csv/operators.py:80`); this registry
  * is that surface made explicit and testable. Each entry has an idiomatic
  * DataFrame/Dataset implementation (Catalyst plans them — pushdown, partial
  * aggregation, join selection, AQE all apply) and, where ANSI-expressible, a
  * DuckDB oracle with IDENTICAL output column names (the driver sorts columns
  * by name before hashing).
  *
  * Determinism rules (FIXTURES.md §Canonicalization): every query ends in a
  * total ORDER BY; float aggregates are ROUND(x,2); casts pin types where
  * Spark and DuckDB defaults differ (LENGTH→BIGINT in DuckDB vs INT in Spark,
  * SUM(BIGINT)→HUGEINT in DuckDB, CEIL(double)→LONG in Spark vs DOUBLE in
  * DuckDB).
  *
  * The streaming family lives in [[graft.queries.StreamingQueries]], built
  * on the [[graft.queries.StreamReplay]] scaffold; [[all]] concatenates
  * its list.
  */
object Queries {

  final case class DeclaredQuery(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  /** Spread a CPU-bound per-row map stage (guide §2.5 "one huge
    * unsplittable file": repartition right after the read): when the scan
    * yields fewer partitions than the session's parallelism — one small
    * parquet at gate scale — a round-robin repartition puts the per-row
    * state machines on every core instead of one. Scale-adaptive by
    * construction: at corpus scale the scan is already at least as wide
    * as the cluster, the condition is false, and NO exchange is added —
    * this is never a blanket shuffle of the corpus. Round-robin keeps
    * per-row determinism (sort-before-repartition stays on); callers are
    * per-row/per-doc computations whose results are partitioning-
    * invariant (no spark_partition_id, no rand). */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** For spark.sql-based entries: register the views the text names, then
    * run it. */
  private def viaSql(sql: String)(s: SparkSession, d: String): DataFrame = {
    Tables.register(s, d, Tables.referencedIn(sql))
    SqlRunner.run(s, sql)
  }

  /** Canonical 2-decimal rounding: FLOOR(x*100 + 0.5)/100 in BOTH engines.
    * Unlike ROUND(double,2) — which Spark implements via exact BigDecimal
    * expansion and DuckDB via pow-multiply, diverging at representation ties —
    * this is a fixed IEEE op sequence, bit-identical across engines. */
  private def round2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100 + 0.5) / 100

  /** 4-decimal sibling of [[round2]] — same fixed IEEE op sequence. */
  private[graft] def round4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 10000 + 0.5) / 10000

  // ---------------------------------------------------------------- Q1–Q8: scan/filter/expr/agg

  private val q01 = DeclaredQuery("q01_scan_project",
    (s, d) => t(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
    Some("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity"))

  private val q02 = DeclaredQuery("q02_filter",
    (s, d) => t(s, d, "lineitem")
      .filter(col("l_quantity").between(10, 20)
        && col("l_returnflag").isin("A", "R")
        && col("l_linestatus").like("F%"))
      .select("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A','R') AND l_linestatus LIKE 'F%' ORDER BY l_orderkey, l_linenumber"))

  private val q03 = DeclaredQuery("q03_expr_case",
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round2(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
        when(col("l_quantity") > 25, "big").otherwise("small").as("bucket"))
      .orderBy("l_orderkey", "l_linenumber", "charge", "bucket"),
    Some("SELECT l_orderkey, l_linenumber, FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) / 100 AS charge, CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS bucket FROM lineitem ORDER BY l_orderkey, l_linenumber, charge, bucket"))

  private val q04 = DeclaredQuery("q04_agg",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(round2(sum("l_quantity")).as("sum_qty"),
        round2(avg("l_extendedprice")).as("avg_price"),
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus"),
    Some("SELECT l_returnflag, l_linestatus, FLOOR(SUM(l_quantity) * 100 + 0.5) / 100 AS sum_qty, FLOOR(AVG(l_extendedprice) * 100 + 0.5) / 100 AS avg_price, MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"))

  private val q05 = DeclaredQuery("q05_distinct_filter_agg",
    (s, d) => t(s, d, "orders")
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(when(col("o_totalprice") > 100000, 1)).as("n_big"))
      .orderBy("o_orderstatus"),
    Some("SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"))

  private val q06 = DeclaredQuery("q06_having",
    (s, d) => t(s, d, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
      .orderBy("o_custkey"),
    Some("SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 3 ORDER BY o_custkey"))

  private val q07 = DeclaredQuery("q07_rollup",
    (s, d) => t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"))

  private val q08Sql =
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ()) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"
  private val q08 = DeclaredQuery("q08_grouping_sets", viaSql(q08Sql), Some(q08Sql))

  // ---------------------------------------------------------------- Q9–Q16: joins

  private val q09 = DeclaredQuery("q09_join_inner",
    (s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .filter(col("o_totalprice") > 200000)
        .select("o_orderkey", "c_name")
        .orderBy("o_orderkey")
    },
    Some("SELECT o.o_orderkey, c.c_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_totalprice > 200000 ORDER BY o.o_orderkey"))

  private val q10 = DeclaredQuery("q10_join_broadcast",
    (s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name").agg(count(lit(1)).as("n"))
        .orderBy("n_name")
    },
    Some("SELECT n.n_name, COUNT(*) AS n FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name ORDER BY n.n_name"))

  private val q11 = DeclaredQuery("q11_join_multiway",
    (s, d) => {
      val c = t(s, d, "customer"); val n = t(s, d, "nation"); val r = t(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name").agg(count(lit(1)).as("n"))
        .orderBy("r_name", "n_name")
    },
    Some("SELECT r.r_name, n.n_name, COUNT(*) AS n FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name"))

  private val q12 = DeclaredQuery("q12_join_left",
    (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, o("o_custkey") === c("c_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },
    Some("SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey ORDER BY c.c_custkey"))

  private val q12b = DeclaredQuery("q12b_join_full",
    (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, o("o_custkey") === c("c_custkey"), "full")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("k"), col("o_orderkey"))
        .groupBy("k").agg(count(col("o_orderkey")).as("n"))
        .orderBy("k")
    },
    Some("SELECT COALESCE(c.c_custkey, o.o_custkey) AS k, COUNT(o.o_orderkey) AS n FROM customer c FULL JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY COALESCE(c.c_custkey, o.o_custkey) ORDER BY k"))

  private val q13 = DeclaredQuery("q13_semi_join",
    (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o.filter(col("o_totalprice") > 300000), c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    },
    Some("SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey AND o.o_totalprice > 300000) ORDER BY c_custkey"))

  private val q14 = DeclaredQuery("q14_anti_join",
    (s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    },
    Some("SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey) ORDER BY c_custkey"))

  private val q15 = DeclaredQuery("q15_theta_join",
    (s, d) => {
      val p = t(s, d, "part"); val l = t(s, d, "lineitem")
      p.join(l, l("l_partkey") === p("p_partkey") && l("l_quantity") > p("p_size"))
        .groupBy("p_partkey").agg(count(lit(1)).as("n"))
        .orderBy("p_partkey")
    },
    Some("SELECT p.p_partkey, COUNT(*) AS n FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey AND l.l_quantity > p.p_size GROUP BY p.p_partkey ORDER BY p.p_partkey"))

  private val q16 = DeclaredQuery("q16_cross_join",
    (s, d) => {
      val r = t(s, d, "region")
      val r1 = r.select(col("r_regionkey").as("k1"), col("r_name").as("r_name_1"))
      val r2 = r.select(col("r_regionkey").as("k2"), col("r_name").as("r_name_2"))
      r1.crossJoin(r2).filter(col("k1") < col("k2"))
        .select("r_name_1", "r_name_2")
        .orderBy("r_name_1", "r_name_2")
    },
    Some("SELECT r1.r_name AS r_name_1, r2.r_name AS r_name_2 FROM region r1 CROSS JOIN region r2 WHERE r1.r_regionkey < r2.r_regionkey ORDER BY r_name_1, r_name_2"))

  // ---------------------------------------------------------------- Q17–Q18: subqueries / CTE

  private val q17Sql =
    "SELECT o_orderkey FROM orders o WHERE o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey) ORDER BY o_orderkey"
  private val q17 = DeclaredQuery("q17_correlated_subquery", viaSql(q17Sql), Some(q17Sql))

  private val q18Sql =
    "WITH t AS (SELECT AVG(l_quantity) AS a FROM lineitem) SELECT l_orderkey, l_linenumber FROM lineitem, t WHERE l_quantity > t.a ORDER BY l_orderkey, l_linenumber"
  private val q18 = DeclaredQuery("q18_cte_scalar_subquery", viaSql(q18Sql), Some(q18Sql))

  // ---------------------------------------------------------------- Q19–Q22: windows / top-k

  private val q19 = DeclaredQuery("q19_window_rank",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 2)
        .orderBy("o_custkey", "rn")
    },
    Some("SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) t WHERE rn <= 2 ORDER BY o_custkey, rn"))

  private val q20 = DeclaredQuery("q20_window_lag",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), lag("o_orderkey", 1).over(w).as("prev"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("SELECT o_custkey, o_orderkey, LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev FROM orders ORDER BY o_custkey, o_orderkey"))

  private val q21 = DeclaredQuery("q21_window_frame",
    (s, d) => {
      // (l_orderkey, l_linenumber) is NOT unique in the testdata — the frame
      // order adds l_extendedprice so the running sum is well-defined (rows
      // tying on both keys are interchangeable without changing any prefix sum).
      val w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          round2(sum("l_extendedprice").over(w)).as("run"))
        .orderBy("l_orderkey", "l_linenumber", "run")
    },
    Some("SELECT l_orderkey, l_linenumber, FLOOR(SUM(l_extendedprice) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_extendedprice ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS run FROM lineitem ORDER BY l_orderkey, l_linenumber, run"))

  private val q22 = DeclaredQuery("q22_topk",
    (s, d) => t(s, d, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10),
    Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"))

  // ---------------------------------------------------------------- Q23–Q24: distinct / set ops

  private val q23 = DeclaredQuery("q23_distinct",
    (s, d) => t(s, d, "lineitem")
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus"),
    Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus"))

  private val q24 = DeclaredQuery("q24_intersect",
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("k"))
      .intersect(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k"),
    Some("SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k"))

  private val q24a = DeclaredQuery("q24a_union_all",
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("k"))
      .unionAll(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k"),
    Some("SELECT k, COUNT(*) AS n FROM (SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey AS k FROM supplier) u GROUP BY k ORDER BY k"))

  private val q24b = DeclaredQuery("q24b_except",
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("k"))
      .except(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k"),
    Some("SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier ORDER BY k"))

  private val q24c = DeclaredQuery("q24c_union_distinct",
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("k"))
      .union(t(s, d, "supplier").select(col("s_nationkey").as("k"))).distinct()
      .orderBy("k"),
    Some("SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey AS k FROM supplier ORDER BY k"))

  private val q24d = DeclaredQuery("q24d_except_all",
    // bag-semantics difference (EXCEPT ALL): each nation key survives
    // with multiplicity max(0, m_left − m_right) — the Postgres construct
    // the reference forwards verbatim (operators.py:80) that Q24b's
    // set-semantics face can't pin. Spark's exceptAll plans as an
    // aggregate-counted anti-multiplicity join (no all-pairs); the
    // group-and-count projection (the q24a precedent) makes the
    // multiplicities themselves the hashed contract.
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("k"))
      .exceptAll(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k"),
    Some("SELECT k, COUNT(*) AS n FROM (SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey AS k FROM supplier) u GROUP BY k ORDER BY k"))

  private val q24e = DeclaredQuery("q24e_intersect_all",
    // bag-semantics intersection (INTERSECT ALL): multiplicity
    // min(m_left, m_right) per key — nontrivial here because customers
    // outnumber suppliers per nation, so the supplier-side count is the
    // binding one for every key (a pure set face would hide that).
    (s, d) => t(s, d, "customer").select(col("c_nationkey").as("k"))
      .intersectAll(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k"),
    Some("SELECT k, COUNT(*) AS n FROM (SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey AS k FROM supplier) u GROUP BY k ORDER BY k"))

  private val q52 = DeclaredQuery("q52_distinct_on",
    // Postgres DISTINCT ON — each customer's most expensive order (ties
    // broken by smallest orderkey), the most Postgres-idiomatic SELECT
    // feature the reference forwards verbatim (operators.py:80). Spark
    // has no DISTINCT ON; the engine spelling is Dedup.exactKeepFirst —
    // ONE hash shuffle with map-side partial aggregation (each partition
    // folds to one candidate row per key) instead of the ROW_NUMBER
    // window's per-partition sort. DESC-on-price is expressed by negating
    // the leading field of the sort-key struct (struct ordering is
    // lexicographic). The DuckDB oracle is native DISTINCT ON, so the
    // hash pins both spellings to the same keep-first semantics.
    (s, d) => {
      val ord = struct((-col("o_totalprice")).as("np"),
        col("o_orderkey").as("ok"))
      graft.operators.Dedup.exactKeepFirst(
        t(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("__ord", ord),
        Seq("o_custkey"), "__ord")
        .select(col("o_custkey"), col("o_orderkey"),
          round2(col("o_totalprice")).as("top_price"))
        .orderBy("o_custkey")
    },
    Some("""SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
FLOOR(o_totalprice * 100 + 0.5) / 100 AS top_price
FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey"""))

  private val q53 = DeclaredQuery("q53_date_spine",
    // the generate_series gap-fill idiom (the most common Postgres
    // time-series pattern the reference forwards verbatim): a complete
    // month spine, LEFT JOIN monthly order counts, zero-filled — months
    // with no orders MUST appear with n = 0, which a plain GROUP BY can
    // never produce. The spine bounds are FIXTURE-DERIVED (r18): month of
    // MIN(o_orderdate) through month of MAX(o_orderdate) + 4 — the pad
    // structurally guarantees ≥4 zero-filled months no matter what date
    // range the generator emits, and the `zero_months` flag column (a
    // constant O(spine)-window count, compared by the oracle) pins that
    // the zero-fill face actually fired. The bounds pass is one min/max
    // partial aggregation (parquet-stats cheap at any scale); the spine
    // itself is a ~tens-of-rows exploded sequence — no scan, no shuffle.
    // Spark spells the spine sequence()+explode; DuckDB generate_series
    // (per-engine spelling, the Q29/Q30a precedent; the join/fill
    // semantics are the shared contract).
    (s, d) => {
      val b = t(s, d, "orders").agg(
        date_trunc("MONTH", min(col("o_orderdate"))).cast("date").as("lo"),
        add_months(date_trunc("MONTH", max(col("o_orderdate"))).cast("date"),
          4).as("hi"))
      val spine = b.select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL '1' MONTH"))).as("mo"))
      val counts = t(s, d, "orders")
        .groupBy(date_trunc("MONTH", col("o_orderdate")).cast("date").as("mo"))
        .agg(count(lit(1)).as("n0"))
      spine.join(counts, Seq("mo"), "left")
        .select(col("mo"), coalesce(col("n0"), lit(0L)).as("n"))
        .withColumn("zero_months",
          sum(when(col("n") === 0L, 1L).otherwise(0L))
            .over(Window.partitionBy()))
        .orderBy("mo")
    },
    Some("""WITH b AS (
  SELECT CAST(DATE_TRUNC('MONTH', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(CAST(DATE_TRUNC('MONTH', MAX(o_orderdate)) AS DATE)
              + INTERVAL 4 MONTH AS DATE) AS hi
  FROM orders),
spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS mo
  FROM b),
c AS (SELECT CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE) AS mo,
        CAST(COUNT(*) AS BIGINT) AS n0
      FROM orders GROUP BY 1)
SELECT spine.mo, COALESCE(c.n0, 0) AS n,
       CAST(SUM(CASE WHEN COALESCE(c.n0, 0) = 0 THEN 1 ELSE 0 END) OVER ()
            AS BIGINT) AS zero_months
FROM spine LEFT JOIN c USING (mo) ORDER BY mo"""))

  private val q54 = DeclaredQuery("q54_ordinal_unnest",
    // ordinality-preserving unnest (Postgres `unnest ... WITH ORDINALITY`):
    // token position survives the explode — the construct every
    // position-aware text pipeline leans on (and the one plain UNNEST
    // loses). Spark spells it posexplode (0-based, so +1 aligns with
    // WITH ORDINALITY's 1-based counter; DuckDB spells the counter
    // generate_subscripts). Filtered to short docs for a bounded gate.
    (s, d) => t(s, d, "documents")
      .where(col("n_chars") < 120)
      .select(col("doc_id"), posexplode(split(col("text"), "\\s+")))
      .where(length(col("col")) > 0)
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("ord"),
        col("col").as("token"))
      .orderBy("doc_id", "ord"),
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks
  FROM documents WHERE n_chars < 120)
SELECT doc_id, CAST(i AS BIGINT) AS ord, toks[i] AS token
FROM t, unnest(generate_series(1, len(toks))) u(i)
WHERE length(toks[i]) > 0 ORDER BY doc_id, ord"""))

  private val q55 = DeclaredQuery("q55_tablesample",
    // TABLESAMPLE BERNOULLI semantics (Postgres forwards `SELECT ... FROM t
    // TABLESAMPLE BERNOULLI(10)` verbatim; Spark spells it
    // `TABLESAMPLE (10 PERCENT)`): each row kept independently with
    // probability p. Both engines' NATIVE spellings are seed-and-
    // partitioning-dependent — unpinnable across engines by construction —
    // so the gate uses the repo's deterministic contract for the same
    // semantics (Sampling.bernoulliByKey, the proven x06b spelling): keep
    // iff sha256(key)'s first 8 hex chars / 2^32 < p. The sampled SET is
    // then the hashed contract, identical across engines, partitionings,
    // and cluster sizes — the property that makes 100 TB sample reruns
    // converge. One map-only pass, no shuffle, filter fully codegen'd.
    (s, d) => graft.operators.Sampling
      .bernoulliByKey(t(s, d, "orders"), "o_orderkey", 0.10)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE CAST(('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 < 0.10
ORDER BY o_orderkey"""))

  private val q56 = DeclaredQuery("q56_mode_agg",
    // mode() — the ordered-set aggregate face beyond percentiles (Postgres
    // `mode() WITHIN GROUP (ORDER BY x)`: the FIRST value in the ORDER BY
    // among maximal counts, i.e. the LOWEST for ascending). Spark ≥ 3.4
    // has a native deterministic spelling: mode(col, deterministic=true)
    // returns exactly that lowest-among-ties value — a real ObjectHashAgg,
    // one shuffle on the group key. DuckDB's mode() leaves ties
    // UNSPECIFIED, so the oracle spells the documented Postgres tie rule
    // explicitly (count desc, value asc, row 1) — the contract under
    // test, not the engine's arbitrary pick. One numeric and one string
    // mode per group exercise both comparator paths.
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(mode(col("l_quantity"), deterministic = true).as("mode_qty"),
        mode(col("l_linestatus"), deterministic = true).as("mode_status"))
      .orderBy("l_returnflag"),
    Some("""WITH qc AS (
  SELECT l_returnflag, l_quantity AS v, COUNT(*) AS c
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
qm AS (SELECT l_returnflag, v AS mode_qty FROM (
  SELECT l_returnflag, v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY c DESC, v ASC) AS rn
  FROM qc) WHERE rn = 1),
sc AS (
  SELECT l_returnflag, l_linestatus AS v, COUNT(*) AS c
  FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1, 2),
sm AS (SELECT l_returnflag, v AS mode_status FROM (
  SELECT l_returnflag, v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY c DESC, v ASC) AS rn
  FROM sc) WHERE rn = 1)
SELECT qm.l_returnflag, qm.mode_qty, sm.mode_status
FROM qm JOIN sm USING (l_returnflag) ORDER BY l_returnflag"""))

  private val q57 = DeclaredQuery("q57_fetch_with_ties",
    // FETCH FIRST n ROWS WITH TIES (Postgres 13+, forwarded verbatim by
    // the reference): the first n rows of the ordering PLUS every row tied
    // with the n-th on the sort key — a deterministic SET even when the
    // ordering itself is not a total order (strictly-better rows ∪ the
    // whole boundary tie group). Neither Spark nor DuckDB 1.0 parses the
    // clause, so BOTH engines run the standard engine spelling —
    // RANK() ≤ n — which is definitionally the same set; the shared text
    // is the contract under test. Scale shape: Spark's
    // InferWindowGroupLimit rewrites the rank-filter into a
    // WindowGroupLimit that top-k-prunes EACH partition before the
    // single-partition rank window, so the global sort sees ≤ n·p rows,
    // not the corpus (plan-pinned in PlanQualitySpec). The tie face
    // genuinely fires here: l_quantity is 50-valued, so rank ≤ 100 keeps
    // the entire boundary quantity's tie group (~1.2k rows at sf0.01).
    (s, d) => {
      val w = Window.orderBy(col("l_quantity").desc)
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          rank().over(w).as("__rnk"))
        .where(col("__rnk") <= 100)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy(col("l_quantity").desc, col("l_orderkey"),
          col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM (
  SELECT l_orderkey, l_linenumber, l_quantity,
         RANK() OVER (ORDER BY l_quantity DESC) AS rnk
  FROM lineitem) z
WHERE rnk <= 100
ORDER BY l_quantity DESC, l_orderkey, l_linenumber"""))

  private val q58 = DeclaredQuery("q58_window_exclude_frames",
    // Window frame EXCLUDE clauses (Postgres EXCLUDE CURRENT ROW / GROUP /
    // TIES, forwarded verbatim by the reference). Spark has no EXCLUDE, so
    // the engine spelling is the frame ALGEBRA: over the cumulative RANGE
    // frame F and the current row's peer group P (same ORDER BY value),
    //   EXCLUDE CURRENT ROW = sum(F) − x        (NULL when F = {x})
    //   EXCLUDE GROUP       = sum(F) − sum(P)   (NULL when F = P)
    //   EXCLUDE TIES        = sum(F) − sum(P) + x
    // — two window passes that SHARE one (priority, date) shuffle: the
    // cumulative frame and the peer-group frame use the same partition
    // keys prefix, and the peer sums are a plain partition-by window, so
    // nothing here is corpus-scaled beyond the one sort. The oracle runs
    // DuckDB's NATIVE EXCLUDE implementation — an independent derivation,
    // not an echo of the algebra — so the hash match proves the rewrite.
    // Sums are exact DECIMAL(12,2) (one terminal cast to double), and the
    // date-truncated order key manufactures real peer groups.
    (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), to_date(col("o_orderdate")).as("od"),
        col("o_totalprice").cast("decimal(12,2)").as("__p"))
      val wFull = Window.partitionBy("o_orderpriority").orderBy("od")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wPeer = Window.partitionBy("o_orderpriority", "od")
      o.withColumn("__full", sum("__p").over(wFull))
        .withColumn("__cfull", count(lit(1)).over(wFull))
        .withColumn("__peer", sum("__p").over(wPeer))
        .withColumn("__cpeer", count(lit(1)).over(wPeer))
        .select(col("o_orderkey"), col("o_orderpriority"), col("od"),
          when(col("__cfull") === 1, lit(null))
            .otherwise(col("__full") - col("__p")).cast("double")
            .as("sum_xcur"),
          when(col("__cfull") === col("__cpeer"), lit(null))
            .otherwise(col("__full") - col("__peer")).cast("double")
            .as("sum_xgrp"),
          (col("__full") - col("__peer") + col("__p")).cast("double")
            .as("sum_xties"))
        .orderBy("o_orderkey")
    },
    Some("""WITH o AS (
  SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) AS od,
         CAST(o_totalprice AS DECIMAL(12,2)) AS p
  FROM orders)
SELECT o_orderkey, o_orderpriority, od,
  CAST(SUM(p) OVER (PARTITION BY o_orderpriority ORDER BY od
    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    EXCLUDE CURRENT ROW) AS DOUBLE) AS sum_xcur,
  CAST(SUM(p) OVER (PARTITION BY o_orderpriority ORDER BY od
    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    EXCLUDE GROUP) AS DOUBLE) AS sum_xgrp,
  CAST(SUM(p) OVER (PARTITION BY o_orderpriority ORDER BY od
    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    EXCLUDE TIES) AS DOUBLE) AS sum_xties
FROM o ORDER BY o_orderkey"""))

  private val q59 = DeclaredQuery("q59_null_safe_comparison",
    // IS [NOT] DISTINCT FROM — the null-safe comparison Postgres forwards
    // verbatim (`operators.py:80`): NULL IS NOT DISTINCT FROM NULL is TRUE
    // and NULL IS DISTINCT FROM x is TRUE, where `=` would yield NULL both
    // times. Spark's engine spelling is the `<=>` (EqualNullSafe) operator
    // — already a first-class equi-join key, so the same predicate
    // hash-partitions at scale. The oracle runs DuckDB's NATIVE
    // IS [NOT] DISTINCT FROM — an independent derivation of the truth
    // table, not an echo of `<=>`. NULLs are manufactured on BOTH sides
    // with deterministic CASE arms so every face fires: both-NULL
    // (id%3=0 ∧ uid%2=0 → not-distinct TRUE), one-NULL (distinct TRUE),
    // equal non-NULL, and unequal non-NULL. One map-only codegen'd pass —
    // the only exchange is the output-order sort.
    (s, d) => {
      val a = when(col("event_id") % 3 === 0, lit(null).cast("string"))
        .otherwise(col("event_type"))
      val b = when(col("user_id") % 2 === 0, lit(null).cast("string"))
        .when(col("user_id") % 5 === 0, lit("click"))
        .otherwise(col("event_type"))
      t(s, d, "events")
        .select(col("event_id"), a.as("a"), b.as("b"),
          (!(a <=> b)).as("is_distinct"),
          (a <=> b).as("is_not_distinct"))
        .orderBy("event_id")
    },
    Some("""WITH e AS (
  SELECT event_id,
    CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END AS a,
    CASE WHEN user_id % 2 = 0 THEN NULL
         WHEN user_id % 5 = 0 THEN 'click'
         ELSE event_type END AS b
  FROM events)
SELECT event_id, a, b,
  a IS DISTINCT FROM b AS is_distinct,
  a IS NOT DISTINCT FROM b AS is_not_distinct
FROM e ORDER BY event_id"""))

  private val q61 = DeclaredQuery("q61_window_groups_frame",
    // Window frame GROUPS mode (Postgres `GROUPS BETWEEN n PRECEDING AND
    // CURRENT ROW`, forwarded verbatim by the reference) — the third and
    // last frame mode after ROWS (q21/q47) and RANGE (q51/q58): frame
    // bounds count PEER GROUPS of the ORDER BY value, not rows or value
    // distances. Neither Spark nor DuckDB implements GROUPS, so BOTH
    // engines run the definitional rewrite (the q57 shared-spelling
    // discipline): g = dense_rank() numbers the peer groups consecutively,
    // and a RANGE frame over the INTEGER g is exactly a GROUPS frame over
    // the original order — `GROUPS k PRECEDING` ≡ `RANGE k PRECEDING` on
    // g. Both window passes (the rank pass and the frame pass) stack on
    // ONE hashpartitioning(priority) exchange — g is monotone in od, so
    // the second sort reuses the first's order (plan-pinned, the q58
    // shape). Sums exact DECIMAL(12,2), one terminal double cast; both
    // frame directions exercised (1 PRECEDING..CURRENT and
    // UNBOUNDED..1 FOLLOWING).
    (s, d) => {
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), to_date(col("o_orderdate")).as("od"),
        col("o_totalprice").cast("decimal(12,2)").as("__p"))
      val wRank = Window.partitionBy("o_orderpriority").orderBy("od")
      val g = o.withColumn("__g", dense_rank().over(wRank))
      val wG1p = Window.partitionBy("o_orderpriority").orderBy("__g")
        .rangeBetween(-1, Window.currentRow)
      val wGu1f = Window.partitionBy("o_orderpriority").orderBy("__g")
        .rangeBetween(Window.unboundedPreceding, 1)
      g.withColumn("__s1", sum("__p").over(wG1p))
        .withColumn("__s2", sum("__p").over(wGu1f))
        .select(col("o_orderkey"), col("o_orderpriority"), col("od"),
          col("__s1").cast("double").as("sum_g1p"),
          col("__s2").cast("double").as("sum_gu1f"))
        .orderBy("o_orderkey")
    },
    Some("""WITH o AS (
  SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE) AS od,
         CAST(o_totalprice AS DECIMAL(12,2)) AS p
  FROM orders),
g AS (SELECT *, DENSE_RANK() OVER (PARTITION BY o_orderpriority
        ORDER BY od) AS grp FROM o)
SELECT o_orderkey, o_orderpriority, od,
  CAST(SUM(p) OVER (PARTITION BY o_orderpriority ORDER BY grp
    RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_g1p,
  CAST(SUM(p) OVER (PARTITION BY o_orderpriority ORDER BY grp
    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS sum_gu1f
FROM g ORDER BY o_orderkey"""))

  private val q60 = DeclaredQuery("q60_percentile_disc",
    // percentile_disc — the NEAREST-RANK ordered-set aggregate (Postgres
    // `percentile_disc(p) WITHIN GROUP (ORDER BY x)`): the value at rank
    // max(1, ⌈p·n⌉), i.e. the first actual data value whose cumulative
    // fraction reaches p — never interpolated, unlike q37's
    // percentile_cont. Same scale-safe RANGED distributed-sort form as
    // q37 (a RangeScan keyed by the group — a hot group never lands in
    // one task's sort); only the target rank and the pick differ. Because
    // the result is a raw data value with NO arithmetic, the oracle
    // (DuckDB's native quantile_disc, verified to the same max(1, ⌈p·n⌉)
    // contract) matches BIT-EXACTLY with no rounding pin.
    (s, d) => graft.operators.Percentiles.discByGroupRanged(
        t(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
        ps = Seq(0.25, 0.5, 0.9), names = Seq("p25", "p50", "p90"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
  quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.25) AS p25,
  quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.5) AS p50,
  quantile_disc(CAST(l_extendedprice AS DOUBLE), 0.9) AS p90
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q46 = DeclaredQuery("q46_like_predicates",
    (s, d) => t(s, d, "customer")
      .select(col("c_custkey"),
        col("c_mktsegment").like("%ILD%").as("lk"),
        col("c_mktsegment").ilike("%build%").as("ilk"),
        (!col("c_name").like("Customer%")).as("nlk"))
      .orderBy("c_custkey"),
    Some("SELECT c_custkey, c_mktsegment LIKE '%ILD%' AS lk, c_mktsegment ILIKE '%build%' AS ilk, c_name NOT LIKE 'Customer%' AS nlk FROM customer ORDER BY c_custkey"))

  private val q47 = DeclaredQuery("q47_value_windows",
    // first/last/nth value over explicit frames; total order via (price, key)
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, d, "orders").where(col("o_orderkey") < 2000)
        .select(col("o_orderkey"),
          first_value(col("o_orderkey")).over(w).as("cheapest"),
          last_value(col("o_orderkey")).over(w).as("priciest"),
          nth_value(col("o_orderkey"), 2).over(w).as("second"))
        .orderBy("o_orderkey")
    },
    Some("SELECT o_orderkey, FIRST_VALUE(o_orderkey) OVER w AS cheapest, LAST_VALUE(o_orderkey) OVER w AS priciest, NTH_VALUE(o_orderkey, 2) OVER w AS second FROM orders WHERE o_orderkey < 2000 WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) ORDER BY o_orderkey"))

  private val q50Sql =
    """SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  private val q50 = DeclaredQuery("q50_grouping_id",
    // GROUPING() markers over ROLLUP — the disambiguation Q7 alone can't
    // give: a real NULL group key vs a rollup supertotal row look
    // identical without the marker. Shared text; NULLS FIRST spelled so
    // both engines order the super-aggregate rows identically.
    viaSql(q50Sql), Some(q50Sql))

  private val q51Sql =
    """SELECT user_id, event_id,
       CAST(FLOOR(SUM(value) OVER (PARTITION BY user_id ORDER BY ts
         RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW)
         * 100 + 0.5) AS BIGINT) AS hour_cents
FROM events
WHERE user_id < 50
ORDER BY user_id, event_id"""

  private val q51 = DeclaredQuery("q51_time_range_frame",
    // event-time RANGE frame: per row, the running sum over the trailing
    // ONE HOUR of that user's events — the per-row sliding window Q32's
    // bucketed form can't express (every row gets its own window end).
    // The frame is VALUE-based (RANGE on the timestamp), so ts ties share
    // a frame regardless of row order — deterministic without a
    // tiebreaker. value is cents-structured in the testdata, so the
    // FLOOR(x·100 + 0.5) spelling pins each frame sum to an exact
    // integer — and sidesteps the cast divergence (Spark's double→BIGINT
    // cast truncates, DuckDB's rounds).
    viaSql(q51Sql), Some(q51Sql))

  private val q48Sql =
    """WITH RECURSIVE ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey < 100
),
walk AS (
  SELECT o_custkey, o_orderkey, rn, o_totalprice AS cum
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.o_custkey, r.o_orderkey, r.rn, w.cum + r.o_totalprice
  FROM walk w JOIN ranked r
    ON r.o_custkey = w.o_custkey AND r.rn = w.rn + 1
)
SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn,
       FLOOR(cum * 100 + 0.5) / 100 AS cum
FROM walk ORDER BY o_custkey, rn"""

  private val q48 = DeclaredQuery("q48_recursive_cte",
    // WITH RECURSIVE (Spark 4's recursive CTE support, shared text with
    // DuckDB): a per-customer linked-list walk accumulating a running
    // total along the date-ordered order chain — a genuinely iterative
    // fixpoint the UNION ALL anchor/step spelling expresses. The chain
    // additions happen in CHAIN ORDER on both engines (each step adds one
    // value to the previous partial), so the doubles are bit-identical;
    // round2 canonicalizes. Depth = max orders per customer (~tens),
    // far under the recursion limit.
    viaSql(q48Sql), Some(q48Sql))

  private val q49Sql =
    """SELECT c.c_custkey, t.o_orderkey,
       FLOOR(t.o_totalprice * 100 + 0.5) / 100 AS o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_custkey < 200
ORDER BY c.c_custkey, t.o_orderkey"""

  private val q49 = DeclaredQuery("q49_lateral_topk",
    // correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    // "top-2 orders per customer" spelled the ANSI-lateral way rather
    // than the q19 window way; Spark plans it as a correlated lateral
    // join, DuckDB as a lateral unnesting — same rows). Customers with
    // no orders drop (inner lateral on both engines); total order by
    // (custkey, orderkey).
    viaSql(q49Sql), Some(q49Sql))

  // ---------------------------------------------------------------- Q25–Q28: scalar functions

  private val q25 = DeclaredQuery("q25_string_funcs",
    (s, d) => t(s, d, "part")
      .select(col("p_partkey"),
        upper(substring(col("p_name"), 1, 5)).as("pfx"),
        length(col("p_name")).cast("int").as("len"),
        replace(col("p_brand"), lit("#"), lit("-")).as("brand2"))
      .orderBy("p_partkey"),
    Some("SELECT p_partkey, UPPER(SUBSTR(p_name, 1, 5)) AS pfx, CAST(LENGTH(p_name) AS INT) AS len, REPLACE(p_brand, '#', '-') AS brand2 FROM part ORDER BY p_partkey"))

  private val q26 = DeclaredQuery("q26_datetime",
    (s, d) => t(s, d, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        date_trunc("MONTH", col("o_orderdate")).cast("date").as("mo"))
      .orderBy("o_orderkey"),
    Some("SELECT o_orderkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y, CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m, CAST(DATE_TRUNC('MONTH', o_orderdate) AS DATE) AS mo FROM orders ORDER BY o_orderkey"))

  private val q26b = DeclaredQuery("q26b_date_arith",
    (s, d) => t(s, d, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1994-01-01").cast("date")).as("dd"),
        date_add(col("o_orderdate").cast("date"), 30).as("d30"))
      .orderBy("o_orderkey"),
    // Per-engine spelling (declared, like Q29/Q30a): DuckDB spells day-diff and
    // day-add differently; semantics pinned by the shared result hash.
    Some("SELECT o_orderkey, CAST(DATEDIFF('day', DATE '1994-01-01', CAST(o_orderdate AS DATE)) AS INT) AS dd, CAST(o_orderdate AS DATE) + 30 AS d30 FROM orders ORDER BY o_orderkey"))

  private val q27 = DeclaredQuery("q27_math_funcs",
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        ceil(col("l_quantity")).as("cq"),
        floor(col("l_tax") * 100).as("ft"),
        (abs(col("l_discount") - 0.05) > 0.001).as("big_disc"),
        round2(pow(col("l_quantity"), 2)).as("pw"),
        (col("l_orderkey") % 7).as("md"))
      .orderBy("l_orderkey", "l_linenumber", "cq", "ft", "big_disc", "pw"),
    Some("SELECT l_orderkey, l_linenumber, CAST(CEIL(l_quantity) AS BIGINT) AS cq, CAST(FLOOR(l_tax * 100) AS BIGINT) AS ft, ABS(l_discount - 0.05) > 0.001 AS big_disc, FLOOR(POWER(l_quantity, 2) * 100 + 0.5) / 100 AS pw, CAST(MOD(l_orderkey, 7) AS BIGINT) AS md FROM lineitem ORDER BY l_orderkey, l_linenumber, cq, ft, big_disc, pw"))

  private val q28 = DeclaredQuery("q28_null_handling",
    (s, d) => t(s, d, "customer")
      .select(col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("n/a")).as("seg"),
        floor(col("c_acctbal")).cast("long").as("bal"))
      .orderBy("c_custkey"),
    // FLOOR before the integer cast: Spark casts double→long by truncation,
    // DuckDB by rounding — FLOOR pins identical semantics in both engines.
    Some("SELECT c_custkey, COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'n/a') AS seg, CAST(FLOOR(c_acctbal) AS BIGINT) AS bal FROM customer ORDER BY c_custkey"))

  // -------------------------------------------- Q33+: widened SQL surface

  private val q19b = DeclaredQuery("q19b_window_analytics",
    (s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          first_value(col("o_orderkey")).over(w).as("top_order"))
        .orderBy("o_custkey", "o_orderkey")
    },
    // percent_rank = (rank-1)/(n-1): same integer division in IEEE double in
    // both engines — bit-equal, no rounding needed
    Some("SELECT o_custkey, o_orderkey, CAST(NTILE(4) OVER w AS INT) AS quartile, PERCENT_RANK() OVER w AS pr, FIRST_VALUE(o_orderkey) OVER w AS top_order FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) ORDER BY o_custkey, o_orderkey"))

  private val q25b = DeclaredQuery("q25b_string_extras",
    (s, d) => t(s, d, "part")
      .select(col("p_partkey"),
        trim(col("p_name")).as("t"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, "*").as("rp"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("bt"),
        split_part(col("p_name"), lit(" "), lit(1)).as("w1"))
      .orderBy("p_partkey"),
    Some("SELECT p_partkey, TRIM(p_name) AS t, LPAD(p_brand, 12, '*') AS lp, RPAD(p_brand, 12, '*') AS rp, CONCAT(p_brand, ':', p_type) AS bt, SPLIT_PART(p_name, ' ', 1) AS w1 FROM part ORDER BY p_partkey"))

  private val q27b = DeclaredQuery("q27b_math_extras",
    (s, d) => t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round2(sqrt(col("l_extendedprice"))).as("sq"),
        signum(col("l_discount") - 0.05).cast("int").as("sg"),
        greatest(col("l_quantity"), col("l_tax") * 100).as("gr"),
        least(col("l_quantity"), col("l_extendedprice") / 1000).as("ls"),
        col("l_orderkey").bitwiseAND(255).as("ba"))
      .orderBy("l_orderkey", "l_linenumber", "sq", "sg", "gr", "ls"),
    // SQRT is IEEE-correctly-rounded (identical across engines); transcendental
    // fns (exp/ln) are libm-dependent and deliberately excluded from oracles
    Some("SELECT l_orderkey, l_linenumber, FLOOR(SQRT(l_extendedprice) * 100 + 0.5) / 100 AS sq, CAST(SIGN(l_discount - 0.05) AS INT) AS sg, GREATEST(l_quantity, l_tax * 100) AS gr, LEAST(l_quantity, l_extendedprice / 1000) AS ls, l_orderkey & 255 AS ba FROM lineitem ORDER BY l_orderkey, l_linenumber, sq, sg, gr, ls"))

  private val q33Sql =
    "SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000) ORDER BY c_custkey"
  private val q33 = DeclaredQuery("q33_in_subquery", viaSql(q33Sql), Some(q33Sql))

  private val q34 = DeclaredQuery("q34_string_agg",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"))
      .orderBy("l_returnflag"),
    // per-engine spelling (declared): ordered distinct string aggregation
    Some("SELECT l_returnflag, STRING_AGG(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))

  private val q35 = DeclaredQuery("q35_pivot",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R")).count()
      .na.fill(0L)
      .orderBy("l_linestatus"),
    Some("SELECT l_linestatus, COUNT(*) FILTER (WHERE l_returnflag = 'A') AS A, COUNT(*) FILTER (WHERE l_returnflag = 'N') AS N, COUNT(*) FILTER (WHERE l_returnflag = 'R') AS R FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"))

  private val q36 = DeclaredQuery("q36_stats_aggs",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(round2(stddev_samp(col("l_quantity"))).as("sd"),
        round2(var_samp(col("l_quantity"))).as("vr"),
        (floor(corr(col("l_quantity"), col("l_extendedprice")) * 10000 + 0.5) / 10000).as("cr"))
      .orderBy("l_returnflag"),
    Some("SELECT l_returnflag, FLOOR(STDDEV_SAMP(l_quantity) * 100 + 0.5) / 100 AS sd, FLOOR(VAR_SAMP(l_quantity) * 100 + 0.5) / 100 AS vr, FLOOR(CORR(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000 AS cr FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))

  private val q37 = DeclaredQuery("q37_percentiles",
    // exact interpolated percentiles via DISTRIBUTED SORT: Spark's
    // `percentile` aggregate buffers every group value in one aggregation
    // buffer — a hot group at 100 TB lands in one executor's heap. THIS
    // shape (3 groups × the whole table) is also exactly where the grouped
    // ranking window degenerates (each group = one task's sort), so the
    // gate runs the RANGED form: a RangeScan keyed by the group splits
    // every group across ~p/3 partitions. Same h=(n−1)p interpolation as
    // `percentile` and DuckDB `quantile_cont`; ranged ≡ window form pinned
    // bit-identically in SelectionSpec.
    (s, d) => {
      val pcts = graft.operators.Percentiles.exactByGroupRanged(
        t(s, d, "lineitem"), "l_returnflag", "l_extendedprice",
        ps = Seq(0.5, 0.9), names = Seq("p50", "p90"))
      pcts.select(col("l_returnflag"),
          round2(col("p50")).as("p50"), round2(col("p90")).as("p90"))
        .orderBy("l_returnflag")
    },
    Some("SELECT l_returnflag, FLOOR(QUANTILE_CONT(l_extendedprice, 0.5) * 100 + 0.5) / 100 AS p50, FLOOR(QUANTILE_CONT(l_extendedprice, 0.9) * 100 + 0.5) / 100 AS p90 FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))

  private val q39 = DeclaredQuery("q39_unpivot",
    (s, d) => t(s, d, "lineitem")
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")), "m", "v")
      .orderBy("l_orderkey", "l_linenumber", "m", "v"),
    Some("SELECT l_orderkey, l_linenumber, 'l_quantity' AS m, l_quantity AS v FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount' AS m, l_discount AS v FROM lineitem UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax' AS m, l_tax AS v FROM lineitem ORDER BY l_orderkey, l_linenumber, m, v"))

  private val q38 = DeclaredQuery("q38_limit_offset",
    (s, d) => t(s, d, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
      .offset(20).limit(10),
    Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 10 OFFSET 20"))

  private val q40 = DeclaredQuery("q40_bitwise_aggs",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(bit_and(col("l_orderkey")).as("b_and"),
        bit_or(col("l_orderkey")).as("b_or"),
        bit_xor(col("l_orderkey")).as("b_xor"))
      .orderBy("l_returnflag"),
    Some("SELECT l_returnflag, BIT_AND(l_orderkey) AS b_and, BIT_OR(l_orderkey) AS b_or, BIT_XOR(l_orderkey) AS b_xor FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"))

  private val q41 = DeclaredQuery("q41_bool_aggs",
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_linestatus")
      .agg(count_if(col("l_quantity") > 25).as("n_big"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") > 0.09).as("any_hi"))
      .orderBy("l_linestatus"),
    Some("SELECT l_linestatus, COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big, BOOL_AND(l_quantity > 0) AS all_pos, BOOL_OR(l_discount > 0.09) AS any_hi FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"))

  private val q42 = DeclaredQuery("q42_regexp_funcs",
    // digit-run masking + first long-word extraction. Spark replaces ALL
    // matches by default — DuckDB needs the explicit 'g' flag; no-match
    // extract is '' in Spark vs NULL in DuckDB → NULLIF canonicalizes both.
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        regexp_replace(col("text"), "[0-9]+", "#").as("masked"),
        nullif(regexp_extract(col("text"), "[a-zA-Z]{8,}", 0), lit(""))
          .as("long_word"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, regexp_replace(text, '[0-9]+', '#', 'g') AS masked, NULLIF(regexp_extract(text, '[a-zA-Z]{8,}'), '') AS long_word FROM documents ORDER BY doc_id"))

  private val q43 = DeclaredQuery("q43_ranking_extras",
    // ntile/percent_rank/cume_dist — exact rationals in double, identical in
    // both engines; (o_totalprice, o_orderkey) makes the frame order total
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .where(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          (floor(percent_rank().over(w) * 10000 + 0.5) / 10000).as("pr"),
          (floor(cume_dist().over(w) * 10000 + 0.5) / 10000).as("cd"))
        .orderBy("o_orderkey")
    },
    Some("SELECT o_orderkey, o_orderpriority, CAST(NTILE(4) OVER w AS INT) AS quartile, FLOOR(PERCENT_RANK() OVER w * 10000 + 0.5) / 10000 AS pr, FLOOR(CUME_DIST() OVER w * 10000 + 0.5) / 10000 AS cd FROM orders WHERE o_orderkey < 2000 WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) ORDER BY o_orderkey"))

  // ---------------------------------------------------------------- Q29–Q32: JSON / arrays / events

  private val q29 = DeclaredQuery("q29_json_extract",
    (s, d) => t(s, d, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id"),
    Some("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events ORDER BY event_id"))

  private val q30 = DeclaredQuery("q30_split_size",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
      .orderBy("doc_id"),
    Some("SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_tokens FROM documents ORDER BY doc_id"))

  private val q30a = DeclaredQuery("q30a_explode_wordcount",
    (s, d) => t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy("w"),
    Some("SELECT w, COUNT(*) AS n FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents) u GROUP BY w ORDER BY w"))

  private val q31 = DeclaredQuery("q31_count_distinct_exact",
    (s, d) => t(s, d, "events").agg(countDistinct(col("user_id")).as("n")),
    Some("SELECT COUNT(DISTINCT user_id) AS n FROM events"))

  private val q32 = DeclaredQuery("q32_event_time_buckets",
    (s, d) => t(s, d, "events")
      .groupBy(date_trunc("HOUR", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round2(sum("value")).as("sv"))
      .orderBy("h", "event_type"),
    Some("SELECT DATE_TRUNC('HOUR', ts) AS h, event_type, COUNT(*) AS n, FLOOR(SUM(value) * 100 + 0.5) / 100 AS sv FROM events GROUP BY DATE_TRUNC('HOUR', ts), event_type ORDER BY h, event_type"))

  private val q32b = DeclaredQuery("q32b_sliding_windows",
    // batch form of the streaming sliding window (EventStreams.slidingCounts):
    // overlapping 1h windows every 30min; window() explodes each event into
    // its covering buckets. Not ANSI-expressible in one shared text → rows-only.
    (s, d) => t(s, d, "events")
      .groupBy(window(col("ts").cast("timestamp"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("timestamp_ntz").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type"),
    // DuckDB spelling: each event belongs to exactly two epoch-aligned 1h/30min
    // windows — floor-to-30min and that minus 30min (window() semantics).
    Some("""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS t, event_type FROM events),
b AS (
  SELECT make_timestamp(CAST(FLOOR(epoch(t)/1800)*1800 AS BIGINT)*1000000) AS ws, event_type FROM e
  UNION ALL
  SELECT make_timestamp((CAST(FLOOR(epoch(t)/1800)*1800 AS BIGINT)-1800)*1000000) AS ws, event_type FROM e
)
SELECT ws, event_type, COUNT(*) AS n FROM b GROUP BY ws, event_type ORDER BY ws, event_type"""))

  private val q32c = DeclaredQuery("q32c_session_windows",
    // batch session windows: per-user activity bursts with a 30min gap
    (s, d) => t(s, d, "events")
      .groupBy(session_window(col("ts").cast("timestamp"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"), round2(sum("value")).as("sv"))
      .select(col("user_id"), col("w.start").cast("timestamp_ntz").as("session_start"),
        col("n_events"), col("sv"))
      .orderBy("user_id", "session_start"),
    // DuckDB spelling: classic gaps-and-islands — a session break where the
    // gap to the previous event is >= 30min (session_window merges [t,t+gap)
    // intervals that OVERLAP, so an exactly-30min gap starts a new session).
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
m AS (SELECT user_id, t, value,
  CASE WHEN t >= LAG(t) OVER (PARTITION BY user_id ORDER BY t) + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM e),
s AS (SELECT user_id, t, value,
  SUM(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m)
SELECT user_id, MIN(t) AS session_start, COUNT(*) AS n_events, FLOOR(SUM(value)*100+0.5)/100 AS sv
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------- X: driver-mandated extensions

  private val x1 = DeclaredQuery("x01_dedup_exact",
    (s, d) => graft.operators.Dedup
      .exactKeepFirst(t(s, d, "documents"), Seq("text"), "doc_id")
      .select("doc_id").orderBy("doc_id"),
    Some("SELECT doc_id FROM (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM documents) t WHERE rn = 1 ORDER BY doc_id"))

  private val x1b = DeclaredQuery("x01b_dedup_stats",
    (s, d) => t(s, d, "documents")
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("text")).as("n_distinct")),
    Some("SELECT COUNT(*) AS n_rows, COUNT(DISTINCT text) AS n_distinct FROM documents"))

  private val x4 = DeclaredQuery("x04_text_stats",
    (s, d) => t(s, d, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round2(avg("n_chars")).as("avg_chars"))
      .orderBy("lang"),
    Some("SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, FLOOR(AVG(n_chars) * 100 + 0.5) / 100 AS avg_chars FROM documents GROUP BY lang ORDER BY lang"))

  private val x5 = DeclaredQuery("x05_embedding_dims",
    (s, d) => t(s, d, "embeddings")
      .select(col("vec_id"), size(col("embedding")).as("dim"), col("label"))
      .orderBy("vec_id"),
    Some("SELECT vec_id, CAST(LEN(embedding) AS INT) AS dim, label FROM embeddings ORDER BY vec_id"))

  private val x5b = DeclaredQuery("x05b_embedding_norm",
    (s, d) => t(s, d, "embeddings")
      .select(col("vec_id"),
        round2(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double")))).as("norm"))
      .orderBy("vec_id"),
    // Both engines fold the list left-to-right in double precision — identical
    // summation order, so ROUND(...,2) is stable across engines.
    Some("SELECT vec_id, FLOOR(SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 100 + 0.5) / 100 AS norm FROM embeddings ORDER BY vec_id"))

  // ------------------------------------------------- X2/X3/X4/X5 operator entries
  // (All deterministic and totally ordered. Entries whose semantics reduce to
  // SQL carry a DuckDB-dialect oracle — per-engine spelling is declared, like
  // Q29. The rest — xxhash64-based sketches (x02*, x04d), ANN bucketing
  // internals (x03b/c), HLL (q31b) — have no DuckDB equivalent → rows-only.)

  private val x2 = DeclaredQuery("x02_minhash_neardup",
    (s, d) => graft.operators.NearDup
      .nearDuplicates(t(s, d, "documents"), "doc_id", "text", minJaccard = 0.8)
      .select(col("id_1"), col("id_2"), round2(col("jaccard")).as("jaccard"))
      .orderBy("id_1", "id_2"),
    // DuckDB spelling: BRUTE-FORCE 3-gram-shingle Jaccard (shingle explode +
    // self-join — no MinHash). Matching it pins LSH recall at 1.0 for this
    // threshold, not just "plausible pairs": the banded S-curve at j=0.8 is
    // ~1-1e-7 and the 128-hash estimate filter sits 6σ below, so candidate
    // loss is negligible by construction, and the exact-Jaccard verification
    // makes precision exact.
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (SELECT id_1, id_2, c * 1.0 / NULLIF(sa.n + sb.n - c, 0) AS j
          FROM isect JOIN sz sa ON sa.doc_id = id_1 JOIN sz sb ON sb.doc_id = id_2)
SELECT id_1, id_2, FLOOR(j*100+0.5)/100 AS jaccard FROM pairs WHERE j >= 0.8 ORDER BY id_1, id_2"""))

  private val x2c = DeclaredQuery("x02c_embedding_cosine_pairs",
    // exact O(n²) baseline (native cosine expression); the LSH scale path is
    // NearDup.embeddingNearDups / SimilaritySearch.lshSelfPairs. Threshold
    // 0.45 because the synthetic embeddings have no planted near-identical
    // pairs (max pairwise cosine ≈ 0.51).
    (s, d) => graft.operators.NearDup
      .cosinePairsExact(t(s, d, "embeddings"), "vec_id", "embedding", minCosine = 0.45)
      .select(col("id_1"), col("id_2"), round2(col("cosine")).as("cosine"))
      .orderBy("id_1", "id_2"),
    Some("""WITH pairs AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
    / NULLIF(SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS c
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
SELECT id_1, id_2, FLOOR(c*100+0.5)/100 AS cosine FROM pairs WHERE c >= 0.45 ORDER BY id_1, id_2"""))

  private val x2d = DeclaredQuery("x02d_jaccard_pairs_exact",
    // EXACT Jaccard via the shingle inverted index (NearDup.jaccardPairsExact)
    // at a threshold below the LSH entry's 0.8 — exactness at low thresholds
    // is where the index beats MinHash. Oracle: the same brute-force
    // explode+self-join spelling as x02, at 0.6.
    (s, d) => graft.operators.NearDup
      .jaccardPairsExact(t(s, d, "documents"), "doc_id", "text", minJaccard = 0.6)
      .select(col("id_1"), col("id_2"), round2(col("jaccard")).as("jaccard"))
      .orderBy("id_1", "id_2"),
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (SELECT id_1, id_2, c * 1.0 / NULLIF(sa.n + sb.n - c, 0) AS j
          FROM isect JOIN sz sa ON sa.doc_id = id_1 JOIN sz sb ON sb.doc_id = id_2)
SELECT id_1, id_2, FLOOR(j*100+0.5)/100 AS jaccard FROM pairs WHERE j >= 0.6 ORDER BY id_1, id_2"""))

  private val x2e = DeclaredQuery("x02e_jaccard_pairs_capped",
    // The stop-shingle cap (dfCap): shingles appearing in more than `cap`
    // documents are dropped from the POSTING join — the worst-case bound that
    // keeps the inverted index output-bound on boilerplate-heavy corpora.
    // Capped shingles leave the intersection counts but NOT the set sizes,
    // so the computed Jaccard can only UNDERESTIMATE the true value —
    // conservative for a ≥-threshold filter. The oracle spells exactly that:
    // brute-force Jaccard with df>cap shingles removed from the intersection
    // while |A|,|B| stay full. cap=3 at sf0.01 genuinely prunes (21 of 25
    // uncapped pairs survive at 0.5), so the entry exercises the cap path.
    (s, d) => graft.operators.NearDup
      .jaccardPairsExact(t(s, d, "documents"), "doc_id", "text",
        minJaccard = 0.5, dfCap = Some(3L))
      .select(col("id_1"), col("id_2"), round2(col("jaccard")).as("jaccard"))
      .orderBy("id_1", "id_2"),
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
keep AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 3),
pex AS (SELECT ex.doc_id, ex.g FROM ex JOIN keep USING (g)),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM pex a JOIN pex b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (SELECT id_1, id_2, c * 1.0 / NULLIF(sa.n + sb.n - c, 0) AS j
          FROM isect JOIN sz sa ON sa.doc_id = id_1 JOIN sz sb ON sb.doc_id = id_2)
SELECT id_1, id_2, FLOOR(j*100+0.5)/100 AS jaccard FROM pairs WHERE j >= 0.5 ORDER BY id_1, id_2"""))

  private val x2b = DeclaredQuery("x02b_simhash_pairs",
    (s, d) => graft.operators.NearDup
      .simhashPairs(t(s, d, "documents"), "doc_id", "text", maxBits = 8)
      .orderBy("id_1", "id_2"),
    None)

  private val x3 = DeclaredQuery("x03_cosine_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).toArray
      graft.operators.SimilaritySearch.topK(e, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round2(col("score")).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },
    // DuckDB spelling: list-lambda cosine. Both engines fold the dot product
    // and norms left-to-right in double precision → bit-identical scores, so
    // the top-10 cut and the rounded output match exactly.
    Some("""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id,
    list_sum(list_transform(list_zip(embedding, qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / NULLIF(SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS raw
  FROM embeddings, q),
topk AS (SELECT vec_id, raw FROM scored ORDER BY raw DESC, vec_id LIMIT 10)
SELECT vec_id, FLOOR(raw*100+0.5)/100 AS score FROM topk ORDER BY score DESC, vec_id"""))

  private val x3b = DeclaredQuery("x03b_ann_lsh_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.SimilaritySearch.lshBucketedTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", "vec_id",
          k = 5, dim = 64, planes = 4)
        .select(col("query_id"), col("corpus_id"), round2(col("score")).as("score"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
    None)

  private val q31b = DeclaredQuery("q31b_approx_count_distinct",
    // HLL sketch (bench-only per SURVEY Q31: approx form is not hash-matched)
    (s, d) => t(s, d, "events")
      .agg(approx_count_distinct(col("user_id")).as("n_approx")),
    None)

  private val x3c = DeclaredQuery("x03c_ann_ivf_topk",
    (s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.SimilaritySearch.ivfTopK(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", "vec_id",
          k = 5, nlist = 16, nprobe = 3)
        .select(col("query_id"), col("corpus_id"), round2(col("score")).as("score"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
    None)

  /** Trained IVF quantizers, one per dataset dir — the trained-index
    * artifact a real deployment stores; memoizing it here makes x03c_search
    * measure SEARCH alone (training is deterministic, so results are
    * identical either way). */
  private val ivfCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Array[Double]]]()

  private val x3cs = DeclaredQuery("x03c_search",
    // search-only IVF over the pre-trained quantizer: same parameters and
    // (deterministically) same output as x03c, but the plan contains NO
    // corpus k-means pass — one cell equi-join + native cosine + top-k.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cents = ivfCentroids.computeIfAbsent(d, _ =>
        graft.operators.SimilaritySearch
          .trainIvf(e, "vec_id", "embedding", nlist = 16, refineIters = 2))
      graft.operators.SimilaritySearch.ivfSearch(
          cents, e, e.where(col("vec_id") < 10), "vec_id", "embedding", "vec_id",
          k = 5, nprobe = 3)
        .select(col("query_id"), col("corpus_id"), round2(col("score")).as("score"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
    None)

  /** Materialized cell-partitioned IVF indexes, one per dataset dir — the
    * on-disk inverted lists [[x3ci]] searches; built once (like the
    * centroids above), so the entry measures probed-partition search. */
  private val ivfIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val x3ci = DeclaredQuery("x03c_search_indexed",
    // search over the MATERIALIZED IVF index: identical output to x03c_search
    // (pinned in ExtensionsSpec), but the scan reads only the probed cells'
    // partitions (PartitionFilters — pinned in PlanQualitySpec). This is the
    // sublinear-probe deployment shape: at 100 TB the per-batch cost is the
    // probed fraction of the corpus, not a full-corpus cell assignment.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cents = ivfCentroids.computeIfAbsent(d, _ =>
        graft.operators.SimilaritySearch
          .trainIvf(e, "vec_id", "embedding", nlist = 16, refineIters = 2))
      val idx = ivfIndexDirs.computeIfAbsent(d, _ => {
        // the index holds a full corpus copy: a scratch dir, reclaimed at
        // JVM exit
        val p = graft.sources.Scratch.dir("graft-ivf-idx")
        graft.operators.SimilaritySearch.buildIvfIndex(
          e, "vec_id", "embedding", cents, p.toString)
        p.toString
      })
      graft.operators.SimilaritySearch.ivfSearchIndexed(
          s, idx, cents, e.where(col("vec_id") < 10), "embedding", "vec_id",
          k = 5, nprobe = 3)
        .select(col("query_id"), col("corpus_id"), round2(col("score")).as("score"),
          col("rank"))
        .orderBy("query_id", "rank")
    },
    None)

  private val x3d = DeclaredQuery("x03d_multi_query_topk",
    // exact many-query top-k (SimilaritySearch.topKAll) — the brute-force
    // baseline the LSH (x03b) and IVF (x03c) paths approximate, and the one
    // multi-query form with a full DuckDB oracle: native-cosine scores are
    // bit-identical to DuckDB's list-lambda fold, so the per-query top-5 cut
    // and ranks match exactly.
    (s, d) => {
      val e = t(s, d, "embeddings")
      graft.operators.SimilaritySearch.topKAll(
          e, e.where(col("vec_id") < 10), "vec_id", "embedding", "vec_id", k = 5)
        .select(col("query_id"), col("corpus_id"),
          round2(col("score")).as("score"), col("rank"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS corpus_id,
    list_sum(list_transform(list_zip(e.embedding, q.qe), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
    / NULLIF(SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS raw
  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
ranked AS (SELECT query_id, corpus_id, raw,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, corpus_id) AS rn FROM scored)
SELECT query_id, corpus_id, FLOOR(raw*100+0.5)/100 AS score, CAST(rn AS INTEGER) AS rank
FROM ranked WHERE rn <= 5 ORDER BY query_id, rank"""))

  private val x4b = DeclaredQuery("x04b_quality_scores",
    (s, d) => {
      // native single-pass stats (equivalence to the Column forms is pinned
      // by NativeTextSpec); qualityScore composes from the struct fields
      t(s, d, "documents")
        .select(col("doc_id"),
          native("graft_text_stats", col("text")).as("st"))
        .select(col("doc_id"), col("st.n_tokens").as("n_tokens"),
          col("st.n_bpeish").as("n_bpeish"),
          round2(col("st.punct_ratio")).as("punct_ratio"),
          round2(graft.functions.TextAnalysis.qualityFromStats(col("st"))).as("quality"))
        .orderBy("doc_id")
    },
    // DuckDB spelling of the same text stats (stopword list kept in sync with
    // TextAnalysis.EnglishStopwords). n_bpeish = alnum runs + punct chars —
    // RE2 has no lookarounds, but the split-at-class-boundaries count reduces
    // to exactly that sum.
    Some("""WITH base AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks,
    length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')) AS n_punct,
    len(regexp_extract_all(text, '[\p{L}\p{N}]+')) AS n_runs,
    length(text) AS n_chars
  FROM documents),
st AS (
  SELECT doc_id,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(n_runs + n_punct AS INT) AS n_bpeish,
    CAST(n_punct AS DOUBLE) / NULLIF(n_chars, 0) AS praw,
    list_sum(list_transform(toks, t -> length(t))) * 1.0 / NULLIF(len(toks), 0) AS mean_tok,
    len(list_filter(toks, t -> list_contains(['the','of','and','a','to','in','is','it','that','for','on','with','as','was','at','by','an','be','this','are'], lower(t)))) * 1.0 / NULLIF(len(toks), 0) AS swr
  FROM base)
SELECT doc_id, n_tokens, n_bpeish,
  FLOOR(praw*100+0.5)/100 AS punct_ratio,
  FLOOR(LEAST(GREATEST(
      LEAST(n_tokens/20.0, 1.0)*0.3
    + (1.0 - LEAST(praw*4.0, 1.0))*0.3
    + (CASE WHEN mean_tok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)*0.2
    + LEAST(swr*5.0, 1.0)*0.2, 0.0), 1.0)*100+0.5)/100 AS quality
FROM st ORDER BY doc_id"""))

  private val x4c = DeclaredQuery("x04c_lang_id",
    (s, d) => {
      t(s, d, "documents")
        .groupBy(native("graft_lang_id", col("text")).as("detected"))
        .agg(count(lit(1)).as("n"))
        .orderBy("detected")
    },
    // DuckDB spelling of the same script-fraction + stopword-hit heuristic
    // (RE2 spells Java's \p{IsHan} as \p{Han}; lists in sync w/ TextAnalysis).
    Some("""WITH base AS (
  SELECT doc_id, text, length(text) AS n,
    list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks
  FROM documents),
f AS (
  SELECT doc_id,
    (length(text) - length(regexp_replace(text, '[\p{Han}]', '', 'g'))) * 1.0 / NULLIF(n,0) AS f_zh,
    (length(text) - length(regexp_replace(text, '[\p{Hiragana}\p{Katakana}]', '', 'g'))) * 1.0 / NULLIF(n,0) AS f_ja,
    (length(text) - length(regexp_replace(text, '[\p{Hangul}]', '', 'g'))) * 1.0 / NULLIF(n,0) AS f_ko,
    (length(text) - length(regexp_replace(text, '[\p{Cyrillic}]', '', 'g'))) * 1.0 / NULLIF(n,0) AS f_ru,
    (length(text) - length(regexp_replace(text, '[\p{Arabic}]', '', 'g'))) * 1.0 / NULLIF(n,0) AS f_ar,
    (length(text) - length(regexp_replace(text, '[\p{Devanagari}]', '', 'g'))) * 1.0 / NULLIF(n,0) AS f_hi,
    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','los','del','se','las','por','un','una','con','para'], lower(t)))) AS es,
    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','den','im','mit','für','auf','ein','eine','nicht'], lower(t)))) AS de,
    len(list_filter(toks, t -> list_contains(['le','la','les','de','des','et','est','un','une','du','dans','que','pour','sur'], lower(t)))) AS fr,
    len(list_filter(toks, t -> list_contains(['the','of','and','a','to','in','is','it','that','for','on','with','as','was','at','by','an','be','this','are'], lower(t)))) AS en
  FROM base)
SELECT detected, COUNT(*) AS n FROM (
  SELECT CASE
    WHEN f_zh > 0.05 THEN 'zh'
    WHEN f_ja > 0.05 THEN 'ja'
    WHEN f_ko > 0.05 THEN 'ko'
    WHEN f_ru > 0.2 THEN 'ru'
    WHEN f_ar > 0.2 THEN 'ar'
    WHEN f_hi > 0.2 THEN 'hi'
    WHEN es > en AND es >= de AND es >= fr THEN 'es'
    WHEN de > en AND de >= es AND de >= fr THEN 'de'
    WHEN fr > en AND fr >= es AND fr >= de THEN 'fr'
    WHEN en > 0 THEN 'en'
    ELSE 'und' END AS detected
  FROM f) GROUP BY detected ORDER BY detected"""))

  private val x4d = DeclaredQuery("x04d_fingerprints",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    None)

  private val x5c = DeclaredQuery("x05c_multimodal_decode",
    (s, d) => {
      implicit val sp: SparkSession = s
      val media = graft.operators.Multimodal.synthesize(t(s, d, "documents"), "doc_id")
      graft.operators.Multimodal.decodeFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_frames"),
          round2(element_at(col("feature"), 1)).as("f0"))
        .orderBy("media_id")
    },
    // DuckDB spelling: the synthesized payload is header + sha256(doc_id)
    // bytes, so decode-then-feature reduces to pure SQL — metadata arithmetic
    // from doc_id, f0 = mean of the 8 hex-pair bytes at offsets 0,4,..,28.
    Some("""SELECT doc_id AS media_id,
  CAST((doc_id % 64 + 1) * 8 AS INT) AS width,
  CAST(((doc_id * 7) % 64 + 1) * 8 AS INT) AS height,
  CAST((doc_id % 16 + 1) AS INT) AS n_frames,
  FLOOR(((SELECT SUM(CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), CAST(i*8+1 AS INT), 2)) AS INT)) FROM range(8) t(i)) / 32.0) * 100 + 0.5)/100 AS f0
FROM documents ORDER BY media_id"""))

  private val x5d = DeclaredQuery("x05d_multimodal_resize",
    // synthesize → resize → decode chain: resize rewrites the header dims
    // (payload body untouched), decode must report the NEW dims and the SAME
    // body feature — header/meta consistency proven against an independent
    // SQL derivation (dims are resize constants, f0 as in x05c).
    (s, d) => {
      implicit val sp: SparkSession = s
      val media = graft.operators.Multimodal.synthesize(t(s, d, "documents"), "doc_id")
      val resized = graft.operators.Multimodal.resize(media, 128, 96)
      graft.operators.Multimodal.decodeFeatures(resized.toDF()).toDF()
        .select(col("media_id"), col("width"), col("height"), col("n_frames"),
          round2(element_at(col("feature"), 1)).as("f0"))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
  128 AS width,
  96 AS height,
  CAST((doc_id % 16 + 1) AS INT) AS n_frames,
  FLOOR(((SELECT SUM(CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), CAST(i*8+1 AS INT), 2)) AS INT)) FROM range(8) t(i)) / 32.0) * 100 + 0.5)/100 AS f0
FROM documents ORDER BY media_id"""))

  /** x04e's DuckDB oracle (r18): the winnow fingerprint IS SQL-replayable.
    * Key identity: the paper's stateful "record when the selection
    * changes" loop keeps minPos = the rightmost argmin of the current
    * window (induction on the three branches), so the DISTINCT recorded
    * VALUES equal the distinct per-window MINIMA — a pure relational
    * sliding-window min over the gram-hash list. The Rabin–Karp gram hash
    * is wrapping 64-bit arithmetic: each gram is Σ code(cᵢ₊ⱼ)·(257^(15−j)
    * mod 2⁶⁴) evaluated in HUGEINT (terms < 2⁸⁰, sum < 2⁸⁴ — no overflow),
    * reduced mod 2⁶⁴ and mapped to SIGNED BIGINT because the JVM compares
    * signed longs. Normalization parity: the corpus is BMP-only with
    * 0x20 as its ONLY whitespace (verified at both gate SFs), so
    * trim+collapse+lower() matches the JVM per-char fold exactly; a
    * corpus with exotic whitespace / non-BMP text would need the
    * normalization revisited (documented assumption, the x67 class).
    * df-cap prune, ≥3-shared cut, and counts are exact integers. */
  private val X04eOracleSql = """WITH norm AS (
  SELECT doc_id, lower(regexp_replace(trim(text, ' '), ' +', ' ', 'g')) AS s
  FROM documents),
cs AS (
  SELECT doc_id,
    list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS HUGEINT)) AS c
  FROM norm),
gr AS (
  SELECT doc_id,
    CASE WHEN len(c) < 16 THEN CAST([] AS BIGINT[]) ELSE
      list_transform(range(1, len(c) - 14), i ->
        CAST(CASE WHEN (c[i+0] * 3934105753453399809::HUGEINT + c[i+1] * 8341464662660550145::HUGEINT + c[i+2] * 13454796134032477441::HUGEINT + c[i+3] * 1990338078304242689::HUGEINT + c[i+4] * 5462812792530078465::HUGEINT + c[i+5] * 8706299010550139393::HUGEINT + c[i+6] * 2617856364451727617::HUGEINT + c[i+7] * 584403925891549185::HUGEINT + c[i+8] * 74051159531521793::HUGEINT + c[i+9] * 288136807515649::HUGEINT + c[i+10] * 1121154893057::HUGEINT + c[i+11] * 4362470401::HUGEINT + c[i+12] * 16974593::HUGEINT + c[i+13] * 66049::HUGEINT + c[i+14] * 257::HUGEINT + c[i+15] * 1::HUGEINT) % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
             THEN (c[i+0] * 3934105753453399809::HUGEINT + c[i+1] * 8341464662660550145::HUGEINT + c[i+2] * 13454796134032477441::HUGEINT + c[i+3] * 1990338078304242689::HUGEINT + c[i+4] * 5462812792530078465::HUGEINT + c[i+5] * 8706299010550139393::HUGEINT + c[i+6] * 2617856364451727617::HUGEINT + c[i+7] * 584403925891549185::HUGEINT + c[i+8] * 74051159531521793::HUGEINT + c[i+9] * 288136807515649::HUGEINT + c[i+10] * 1121154893057::HUGEINT + c[i+11] * 4362470401::HUGEINT + c[i+12] * 16974593::HUGEINT + c[i+13] * 66049::HUGEINT + c[i+14] * 257::HUGEINT + c[i+15] * 1::HUGEINT) % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT
             ELSE (c[i+0] * 3934105753453399809::HUGEINT + c[i+1] * 8341464662660550145::HUGEINT + c[i+2] * 13454796134032477441::HUGEINT + c[i+3] * 1990338078304242689::HUGEINT + c[i+4] * 5462812792530078465::HUGEINT + c[i+5] * 8706299010550139393::HUGEINT + c[i+6] * 2617856364451727617::HUGEINT + c[i+7] * 584403925891549185::HUGEINT + c[i+8] * 74051159531521793::HUGEINT + c[i+9] * 288136807515649::HUGEINT + c[i+10] * 1121154893057::HUGEINT + c[i+11] * 4362470401::HUGEINT + c[i+12] * 16974593::HUGEINT + c[i+13] * 66049::HUGEINT + c[i+14] * 257::HUGEINT + c[i+15] * 1::HUGEINT) % 18446744073709551616::HUGEINT END AS BIGINT))
    END AS g
  FROM cs),
fp AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(g) < 32 THEN CAST([] AS BIGINT[])
      ELSE list_transform(range(32, len(g) + 1), i -> list_min(g[i-31:i])) END) AS f
  FROM gr),
ex AS (SELECT doc_id, unnest(f) AS fh FROM fp),
keep AS (SELECT fh FROM ex GROUP BY fh HAVING COUNT(*) <= 10),
pex AS (SELECT ex.doc_id, ex.fh FROM ex JOIN keep USING (fh))
SELECT a.doc_id AS id_1, b.doc_id AS id_2, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM pex a JOIN pex b USING (fh) WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= 3 ORDER BY id_1, id_2"""

  private val x4e = DeclaredQuery("x04e_winnow_overlaps",
    // partial-overlap candidate pairs via winnowing (MOSS): docs sharing ≥3
    // selected rolling-hash fingerprints. Detects SHARED PASSAGES — pairs
    // whose whole-document hashes (x04d) differ. ORACLED (r18): the
    // selection-change recording reduces to distinct sliding-window
    // minima, and the wrapping 64-bit Rabin–Karp replays in HUGEINT
    // mod-2⁶⁴ arithmetic — see [[X04eOracleSql]]. NativeTextSpec still
    // pins the winnowing guarantee itself.
    (s, d) => graft.operators.NearDup
      .winnowOverlapPairs(t(s, d, "documents"), "doc_id", "text")
      .orderBy("id_1", "id_2"),
    Some(X04eOracleSql))

  private val x4f = DeclaredQuery("x04f_fingerprint_groups",
    // The fingerprint VALUE is xxhash64 — no DuckDB spelling — but its
    // DEFINING property is oracle-checkable: fingerprints must partition
    // documents exactly as the normalized text does. Spark groups by the
    // 64-bit fingerprint, the oracle groups by the normalized STRING; a
    // hash collision (or a normalization divergence) merges/splits a group
    // and hash-fails the gate. Output per doc: min-id group representative
    // and group size.
    (s, d) => {
      val w = Window.partitionBy("fp")
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextAnalysis.fingerprint(col("text")).as("fp"))
        .select(col("doc_id"),
          min("doc_id").over(w).as("rep_id"),
          count(lit(1)).over(w).as("n_dups"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
  MIN(doc_id) OVER (PARTITION BY norm) AS rep_id,
  COUNT(*) OVER (PARTITION BY norm) AS n_dups
FROM (SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm FROM documents)
ORDER BY doc_id"""))

  private val x6 = DeclaredQuery("x06_stratified_sample",
    // deterministic quota sampling (dataset mixing primitive): up to 50 docs
    // per language, chosen by content-keyed pseudorandom order — identical
    // sample on every engine, run, and partitioning
    (s, d) => graft.operators.Sampling
      .stratifiedQuota(t(s, d, "documents"), "lang", "doc_id", quota = 50)
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) t WHERE rn <= 50 ORDER BY doc_id"""))

  private val x6c = DeclaredQuery("x06c_stratified_guarded",
    // hot-stratum guard: Bernoulli pre-filter + window. Shares x06's oracle
    // SHAPE on purpose — the guard must return row-identical output to the
    // unguarded quota sample, and the gate proves it against DuckDB.
    (s, d) => graft.operators.Sampling
      .stratifiedQuotaGuarded(t(s, d, "documents"), "lang", "doc_id", quota = 50)
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents) t WHERE rn <= 50 ORDER BY doc_id"""))

  private val x6b = DeclaredQuery("x06b_weighted_sample",
    // per-stratum Bernoulli mixture weights, keyed on sha256(doc_id) so the
    // kept set is stable across engines/partitionings
    (s, d) => graft.operators.Sampling
      .weightedByStratum(t(s, d, "documents"), "lang", "doc_id",
        Map("en" -> 0.8, "de" -> 0.2), default = 0.05)
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM documents
WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 <
  CASE WHEN lang = 'en' THEN 0.8 WHEN lang = 'de' THEN 0.2 ELSE 0.05 END
ORDER BY doc_id"""))

  private val x7 = DeclaredQuery("x07_asof_join",
    // point-in-time join: each event gets the same user's most recent
    // purchase value at-or-before its timestamp. Spark has no ASOF operator —
    // AsofJoin.backward is the union-and-sweep composition (one shuffle, no
    // range blow-up); the oracle is DuckDB's NATIVE ASOF LEFT JOIN.
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.backward(
          ev.select("event_id", "user_id", "ts"), purchases,
          by = "user_id", leftTs = "ts", rightTs = "ts",
          valueCols = Map("value" -> "last_purchase"))
        .select("event_id", "last_purchase")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.event_id, r.value AS last_purchase
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id"""))

  private val x7c = DeclaredQuery("x07c_asof_inner",
    // strict point-in-time join: events with NO same-user purchase at-or-
    // before their timestamp are DROPPED (DuckDB plain ASOF JOIN), instead
    // of surviving with NULLs as in x07's ASOF LEFT JOIN
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.backward(
          ev.select("event_id", "user_id", "ts"), purchases,
          by = "user_id", leftTs = "ts", rightTs = "ts",
          valueCols = Map("value" -> "last_purchase"),
          joinType = "inner")
        .select("event_id", "last_purchase")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.event_id, r.value AS last_purchase
FROM events l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id"""))

  private val x7d = DeclaredQuery("x07d_asof_tolerance",
    // bounded-staleness point-in-time join (pandas merge_asof tolerance):
    // the matched purchase is still the latest at-or-before one, but a
    // match older than 6 hours is voided — never widened to an older
    // qualifying row. The tolerance follows the timestamp type: events.ts
    // is TIMESTAMP, so the gap is an interval and the tolerance an interval
    // literal; the oracle spells the same voiding as a CASE over DuckDB's
    // native ASOF LEFT JOIN interval gap.
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.backward(
          ev.select("event_id", "user_id", "ts"), purchases,
          by = "user_id", leftTs = "ts", rightTs = "ts",
          valueCols = Map("value" -> "recent_purchase"),
          tolerance = Some(expr("INTERVAL 6 HOURS")))
        .select("event_id", "recent_purchase")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.event_id,
  CASE WHEN l.ts - r.ts <= INTERVAL 6 HOUR THEN r.value END AS recent_purchase
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id"""))

  private val x7b = DeclaredQuery("x07b_asof_forward",
    // forward-looking point-in-time join: each event gets the same user's
    // EARLIEST purchase value at-or-after its timestamp. Oracle: DuckDB's
    // native ASOF with the reversed inequality (l.ts <= r.ts).
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.forward(
          ev.select("event_id", "user_id", "ts"), purchases,
          by = "user_id", leftTs = "ts", rightTs = "ts",
          valueCols = Map("value" -> "next_purchase"))
        .select("event_id", "next_purchase")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.event_id, r.value AS next_purchase
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
ORDER BY l.event_id"""))

  private val x7e = DeclaredQuery("x07e_asof_nearest",
    // nearest-direction point-in-time join (pandas merge_asof
    // direction='nearest'): each event gets the same user's purchase value
    // with the SMALLEST absolute timestamp gap, backward winning exact
    // ties. DuckDB has no native nearest ASOF, so the oracle derives both
    // directional matches with native ASOF joins (event_id is unique) and
    // replays the backward-wins-ties pick as a CASE over the two gaps.
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.nearest(
          ev.select("event_id", "user_id", "ts"), purchases,
          by = "user_id", leftTs = "ts", rightTs = "ts",
          valueCols = Map("value" -> "nearest_purchase"))
        .select("event_id", "nearest_purchase")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
b AS (SELECT l.event_id, l.ts, r.ts AS bts, r.value AS bv
      FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts),
f AS (SELECT l.event_id, r.ts AS fts, r.value AS fv
      FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts)
SELECT b.event_id,
  CASE WHEN bts IS NOT NULL AND (fts IS NULL OR b.ts - bts <= fts - b.ts) THEN bv
       WHEN fts IS NOT NULL THEN fv END AS nearest_purchase
FROM b JOIN f ON b.event_id = f.event_id
ORDER BY b.event_id"""))

  private val x7f = DeclaredQuery("x07f_asof_strict",
    // strict-inequality as-of (pandas allow_exact_matches=False): the
    // matched purchase must be strictly BEFORE the event, so a purchase
    // event never matches itself — it gets the user's PREVIOUS purchase
    // (a regime x07 never exercises: every purchase row differs). Oracle:
    // DuckDB native ASOF with the strict comparator.
    (s, d) => {
      val ev = t(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.AsofJoin.backward(
          ev.select("event_id", "user_id", "ts"), purchases,
          by = "user_id", leftTs = "ts", rightTs = "ts",
          valueCols = Map("value" -> "prev_purchase"),
          allowExactMatches = false)
        .select("event_id", "prev_purchase")
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.event_id, r.value AS prev_purchase
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts > r.ts
ORDER BY l.event_id"""))

  private val x8 = DeclaredQuery("x08_range_join_binned",
    // interval join via equi-binning (RangeJoin): lineitems shipped within 7
    // days of a big order's date. A bare BETWEEN join would plan as a nested
    // loop; the binned form is one shuffle on the bin key.
    (s, d) => {
      // Pre-aggregate points by VALUE before the range join: 600k lineitems
      // collapse to ~2.5k distinct ship-days, so the join touches thousands
      // of candidate pairs instead of tens of millions (the raw join matches
      // ~57M (point, interval) rows at sf0.1 — profiled at 6.8s; this form
      // is ~0.5s with the identical result). The generic rule: when the
      // point column is low-cardinality relative to row count, join the
      // distinct values weighted by count and SUM the weights after.
      val pts = t(s, d, "lineitem")
        .groupBy(unix_date(col("l_shipdate").cast("date")).as("__p"))
        .agg(count(lit(1)).as("__w"))
      val ivs = t(s, d, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_orderkey"),
          unix_date(col("o_orderdate").cast("date")).as("__lo"))
        .withColumn("__hi", col("__lo") + 7)
      graft.operators.RangeJoin.pointInInterval(pts, "__p", ivs, "__lo", "__hi",
          binWidth = 8)
        .groupBy("o_orderkey").agg(sum("__w").as("n"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o.o_orderkey, COUNT(*) AS n FROM lineitem l JOIN orders o
ON CAST(l.l_shipdate AS DATE) BETWEEN CAST(o.o_orderdate AS DATE) AND CAST(o.o_orderdate AS DATE) + 7
WHERE o.o_totalprice > 400000 GROUP BY o.o_orderkey ORDER BY o.o_orderkey"""))

  private val x8b = DeclaredQuery("x08b_interval_overlap",
    // interval×interval overlap via equi-binning with bin-OWNERSHIP dedup
    // (each pair emitted only at its first shared bin — no distinct shuffle):
    // 30-day windows of the priciest orders overlapping windows of the next
    // price tier. Oracle: the naive overlap-condition join.
    (s, d) => {
      def win(df: DataFrame, key: String) = df
        .select(col("o_orderkey").as(key),
          unix_date(col("o_orderdate").cast("date")).as(s"__${key}_lo"))
        .withColumn(s"__${key}_hi", col(s"__${key}_lo") + 30)
      val a = win(t(s, d, "orders").where(col("o_totalprice") > 450000), "a_key")
      val b = win(t(s, d, "orders")
        .where(col("o_totalprice") > 400000 && col("o_totalprice") <= 450000), "b_key")
      graft.operators.RangeJoin.intervalOverlap(
          a, "__a_key_lo", "__a_key_hi", b, "__b_key_lo", "__b_key_hi",
          binWidth = 32)
        .groupBy("a_key").agg(count(lit(1)).as("n_overlaps"))
        .orderBy("a_key")
    },
    Some("""WITH a AS (SELECT o_orderkey AS a_key, CAST(o_orderdate AS DATE) AS lo, CAST(o_orderdate AS DATE) + 30 AS hi FROM orders WHERE o_totalprice > 450000),
b AS (SELECT o_orderkey AS b_key, CAST(o_orderdate AS DATE) AS lo, CAST(o_orderdate AS DATE) + 30 AS hi FROM orders WHERE o_totalprice > 400000 AND o_totalprice <= 450000)
SELECT a_key, COUNT(*) AS n_overlaps FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi GROUP BY a_key ORDER BY a_key"""))

  private val x9 = DeclaredQuery("x09_salted_join",
    // skew-mitigated join under the gate: the salt routing is an execution
    // detail (hot keys scatter over `salt` sub-keys, the small side
    // replicates), so the aggregated result must equal the plain join —
    // which is exactly what the DuckDB oracle computes. FLOOR before the
    // bigint sum keeps the aggregate integer-exact in both engines.
    (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), floor(col("l_quantity")).cast("long").as("__q"))
      val ords = t(s, d, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, ords, "l_orderkey", salt = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("__q").as("sq"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sq
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 400000 GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  private val q44 = DeclaredQuery("q44_month_arith",
    // calendar-month arithmetic with end-of-month clamping (Jan 31 + 1 month
    // = Feb 28/29) — add_months and DuckDB's month INTERVAL share the clamp
    (s, d) => t(s, d, "orders")
      .select(col("o_orderkey"),
        add_months(col("o_orderdate").cast("date"), 1).as("m1"),
        add_months(col("o_orderdate").cast("date"), -3).as("m_back"),
        last_day(col("o_orderdate").cast("date")).as("eom"))
      .orderBy("o_orderkey"),
    Some("SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS m1, CAST(CAST(o_orderdate AS DATE) - INTERVAL 3 MONTH AS DATE) AS m_back, last_day(CAST(o_orderdate AS DATE)) AS eom FROM orders ORDER BY o_orderkey"))

  private val q45 = DeclaredQuery("q45_string_shape",
    (s, d) => t(s, d, "customer")
      .select(col("c_custkey"),
        lpad(col("c_mktsegment"), 12, "*").as("padded"),
        translate(col("c_name"), "#", "-").as("tr"),
        reverse(col("c_mktsegment")).as("rev"),
        repeat(lit("ab"), 3).as("rep"))
      .orderBy("c_custkey"),
    Some("SELECT c_custkey, lpad(c_mktsegment, 12, '*') AS padded, translate(c_name, '#', '-') AS tr, reverse(c_mktsegment) AS rev, repeat('ab', 3) AS rep FROM customer ORDER BY c_custkey"))

  private val x10 = DeclaredQuery("x10_training_pipeline",
    // End-to-end corpus-build pipeline composed from the X-operators:
    // quality-score filter (native text stats) → exact keep-first dedup on
    // content → per-language stratified quota sample → per-language doc and
    // token accounting. Every stage is deterministic, so the WHOLE pipeline
    // hash-matches a composed DuckDB derivation. The filter uses the ROUNDED
    // quality (the value x04b already hash-matches) so the ≥ threshold cut
    // is engine-stable by construction.
    (s, d) => {
      val scored = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          native("graft_text_stats", col("text")).as("st"))
        .select(col("doc_id"), col("lang"), col("text"),
          col("st.n_tokens").as("n_tokens"),
          round2(graft.functions.TextAnalysis.qualityFromStats(col("st"))).as("q"))
        .where(col("q") >= 0.5)
      // dedup on the 8-byte content hash, not the document body — the
      // shuffle moves (hash, id)-sized rows at 100 TB. Observably identical
      // to text-keyed dedup absent an xxhash64 collision (the oracle
      // partitions by text itself).
      val deduped = graft.operators.Dedup
        .exactKeepFirst(graft.operators.Dedup.withContentHash(scored, "text"),
          Seq("content_hash"), "doc_id")
        .drop("content_hash")
      val sampled = graft.operators.Sampling
        .stratifiedQuota(deduped, "lang", "doc_id", quota = 40)
      sampled.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"))
        .orderBy("lang")
    },
    Some("""WITH base AS (
  SELECT doc_id, lang, text,
    list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks,
    length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')) AS n_punct,
    length(text) AS n_chars
  FROM documents),
st AS (
  SELECT doc_id, lang, text,
    CAST(len(toks) AS INT) AS n_tokens,
    CAST(n_punct AS DOUBLE) / NULLIF(n_chars, 0) AS praw,
    list_sum(list_transform(toks, t -> length(t))) * 1.0 / NULLIF(len(toks), 0) AS mean_tok,
    len(list_filter(toks, t -> list_contains(['the','of','and','a','to','in','is','it','that','for','on','with','as','was','at','by','an','be','this','are'], lower(t)))) * 1.0 / NULLIF(len(toks), 0) AS swr
  FROM base),
scored AS (
  SELECT doc_id, lang, text, n_tokens,
    FLOOR(LEAST(GREATEST(
        LEAST(n_tokens/20.0, 1.0)*0.3
      + (1.0 - LEAST(praw*4.0, 1.0))*0.3
      + (CASE WHEN mean_tok BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)*0.2
      + LEAST(swr*5.0, 1.0)*0.2, 0.0), 1.0)*100+0.5)/100 AS q
  FROM st),
filtered AS (SELECT * FROM scored WHERE q >= 0.5),
dedup AS (SELECT * FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM filtered) t WHERE rn = 1),
sampled AS (SELECT * FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS srn
  FROM dedup) t WHERE srn <= 40)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM sampled GROUP BY lang ORDER BY lang"""))

  private val x10b = DeclaredQuery("x10b_pretraining_pipeline",
    // Composed flagship v2 over the round-5 operators — ONE lazy plan:
    // benchmark decontamination (x14, guarded-broadcast semi-join) → token
    // chunking (x11, map-only) → sequence packing (x12, distributed prefix
    // sum on the unique chunk key) → TF-IDF-weighted bin accounting (x13b's
    // fixed-order exact-double score). Output: per training bin, how many
    // chunks start there, their tokens, and how many come from
    // high-relevance documents. Every stage is deterministic and the whole
    // composition hash-matches one composed DuckDB derivation. The 9.0
    // threshold compares bit-identical doubles (exact tf·N/df products,
    // fixed-order sum), so the cut is engine-stable; it lands near the
    // sf0.01 median score, so both sides are populated.
    (s, d) => {
      val docs = t(s, d, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
      val bench = docs.where(pmod(col("doc_id"), lit(17)) === 0)
      val clean = graft.operators.Contamination.decontaminate(
        corpus, "doc_id", "text", bench, "doc_id", "text",
        k = 5, minShared = 1)
      val chunks = graft.operators.Packing
        .chunkDocuments(clean, "doc_id", "text", maxTokens = 40, overlap = 10)
        .withColumn("chunk_key", col("doc_id") * 1000 + col("chunk_id"))
      val packed = graft.operators.Packing
        .packSequences(chunks, "chunk_key", col("n_tokens"), capacity = 2048L)
        .withColumn("doc_id", expr("chunk_key div 1000"))
      val per = graft.operators.Relevance
        .tfidfPerTerm(clean, "doc_id", "text", tfidfTerms)
      val scores = per.groupBy("doc_id").agg(
          coalesce(sum(when(col("term") === "join", col("tfidf"))), lit(0.0)).as("v1"),
          coalesce(sum(when(col("term") === "vector", col("tfidf"))), lit(0.0)).as("v2"),
          coalesce(sum(when(col("term") === "scan", col("tfidf"))), lit(0.0)).as("v3"),
          coalesce(sum(when(col("term") === "data", col("tfidf"))), lit(0.0)).as("v4"))
        .select(col("doc_id"),
          (((col("v1") + col("v2")) + col("v3")) + col("v4")).as("score"))
      packed.join(scores, Seq("doc_id"), "left")
        .groupBy(col("bin_first").as("bin"))
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("total_tokens"),
          count(when(coalesce(col("score"), lit(0.0)) >= 9.0, 1)).as("n_relevant_chunks"))
        .orderBy("bin")
    },
    Some("""WITH sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
    ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
corp AS (SELECT * FROM ex WHERE doc_id % 17 <> 0),
bench AS (SELECT * FROM ex WHERE doc_id % 17 = 0),
bad AS (SELECT DISTINCT c.doc_id FROM corp c JOIN bench b USING (g)),
clean AS (SELECT * FROM documents WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)),
tok AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks FROM clean),
c AS (SELECT doc_id, CAST(len(toks) AS INT) AS n,
  CASE WHEN len(toks) <= 40 THEN 1 ELSE 1 + CAST(CEIL((len(toks) - 40) * 1.0 / 30) AS INT) END AS nc
  FROM tok),
e AS (SELECT doc_id, n, CAST(unnest(range(nc)) AS INT) AS chunk_id FROM c),
ch AS (SELECT doc_id, doc_id * 1000 + chunk_id AS chunk_key,
  CAST(LEAST(40, n - chunk_id * 30) AS BIGINT) AS n_tokens FROM e),
o AS (SELECT doc_id, n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY chunk_key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 2048 AS bin
  FROM ch),
tk AS (SELECT doc_id, unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term FROM clean),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk
       WHERE term IN ('join', 'vector', 'scan', 'data') GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM clean),
pp AS (SELECT doc_id, term, tf * n * 1.0 / df_docs AS tfidf
       FROM tf JOIN dfq USING (term) CROSS JOIN nn),
r AS (SELECT doc_id,
  COALESCE(SUM(CASE WHEN term = 'join' THEN tfidf END), 0) AS v1,
  COALESCE(SUM(CASE WHEN term = 'vector' THEN tfidf END), 0) AS v2,
  COALESCE(SUM(CASE WHEN term = 'scan' THEN tfidf END), 0) AS v3,
  COALESCE(SUM(CASE WHEN term = 'data' THEN tfidf END), 0) AS v4
  FROM pp GROUP BY doc_id),
sc AS (SELECT doc_id, ((v1 + v2) + v3) + v4 AS score FROM r)
SELECT bin, COUNT(*) AS n_chunks, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  COUNT(CASE WHEN COALESCE(score, 0) >= 9.0 THEN 1 END) AS n_relevant_chunks
FROM o LEFT JOIN sc USING (doc_id)
GROUP BY bin ORDER BY bin"""))

  private val x4g = DeclaredQuery("x04g_top_bigram",
    // Gopher-style repetition signal: each document's most frequent word
    // bigram and the fraction of its characters that bigram accounts for
    // (Repetition.topBigramStats). Relational explode+groupBy+window — the
    // map-reduce word-count shape, never quadratic in document length.
    // 349 of 500 sf0.01 docs have a repeated bigram, so the ranking and
    // tie-break (count desc, gram asc) are genuinely exercised.
    (s, d) => graft.operators.Repetition
      .topBigramStats(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("top_bigram"), col("n_occurrences"),
        round2(col("top_bigram_char_frac")).as("top_bigram_char_frac"))
      .orderBy("doc_id"),
    Some("""WITH t AS (
  SELECT doc_id, length(text) AS tlen,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
g AS (SELECT doc_id, tlen,
    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM t WHERE len(toks) >= 2),
c AS (SELECT doc_id, tlen, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn FROM c)
SELECT doc_id, gram AS top_bigram, c AS n_occurrences,
  FLOOR(c * length(gram) * 1.0 / tlen * 100 + 0.5) / 100 AS top_bigram_char_frac
FROM r WHERE rn = 1 ORDER BY doc_id"""))

  private val x11 = DeclaredQuery("x11_chunk_documents",
    // fixed-window token chunking with overlap (Packing.chunkDocuments):
    // maxTokens=40, overlap=10 → step 30; last chunk short, ≤40-token docs
    // yield themselves. Map-only + posexplode — no shuffle.
    (s, d) => graft.operators.Packing
      .chunkDocuments(t(s, d, "documents"), "doc_id", "text",
        maxTokens = 40, overlap = 10)
      .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
c AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS n,
  CASE WHEN len(toks) <= 40 THEN 1
       ELSE 1 + CAST(CEIL((len(toks) - 40) * 1.0 / 30) AS INT) END AS nc
  FROM t),
e AS (SELECT doc_id, n, toks, CAST(unnest(range(nc)) AS INT) AS chunk_id FROM c)
SELECT doc_id, chunk_id,
  array_to_string(toks[chunk_id*30+1 : chunk_id*30+40], ' ') AS chunk_text,
  CAST(LEAST(40, n - chunk_id*30) AS INT) AS n_tokens
FROM e ORDER BY doc_id, chunk_id"""))

  private val x12 = DeclaredQuery("x12_pack_sequences",
    // concatenate-and-chunk packing (Packing.packSequences): documents laid
    // end-to-end in doc_id order, token stream cut at 2048-token boundaries;
    // start_offset comes from the distributed two-phase prefix sum, which the
    // single-window oracle spelling must equal exactly.
    (s, d) => graft.operators.Packing
      .packSequences(t(s, d, "documents"), "doc_id",
        graft.functions.TextAnalysis.tokenCount(col("text")), capacity = 2048L)
      .orderBy("doc_id"),
    Some("""WITH tc AS (
  SELECT doc_id,
    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens
  FROM documents),
o AS (SELECT doc_id, n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM tc)
SELECT doc_id, n_tokens, start_offset,
  start_offset // 2048 AS bin_first,
  (start_offset + GREATEST(n_tokens, 1) - 1) // 2048 AS bin_last
FROM o ORDER BY doc_id"""))

  private val x12b = DeclaredQuery("x12b_pack_summary",
    // per-bin manifest over the packing assignment (docs count toward the
    // bin they start in)
    (s, d) => graft.operators.Packing.packSummary(
        graft.operators.Packing.packSequences(t(s, d, "documents"), "doc_id",
          graft.functions.TextAnalysis.tokenCount(col("text")), capacity = 2048L))
      .orderBy("bin"),
    Some("""WITH tc AS (
  SELECT doc_id,
    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens
  FROM documents),
o AS (SELECT doc_id, n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM tc)
SELECT start_offset // 2048 AS bin, COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM o GROUP BY 1 ORDER BY 1"""))

  private val tfidfTerms = Seq("join", "vector", "scan", "data")

  private val x13 = DeclaredQuery("x13_tfidf_terms",
    // corpus-statistical weighting (Relevance.tfidfPerTerm): per-(doc, term)
    // linear TF-IDF — log-free by design so the doubles are bit-identical
    // across engines (one exact integer product + one division).
    (s, d) => graft.operators.Relevance
      .tfidfPerTerm(t(s, d, "documents"), "doc_id", "text", tfidfTerms)
      .orderBy("doc_id", "term"),
    Some("""WITH tok AS (
  SELECT doc_id, unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ('join', 'vector', 'scan', 'data') GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents)
SELECT doc_id, term, tf, df_docs, tf * n * 1.0 / df_docs AS tfidf
FROM tf JOIN dfq USING (term) CROSS JOIN n
ORDER BY doc_id, term"""))

  private val x13b = DeclaredQuery("x13b_tfidf_doc_scores",
    // per-doc combined score with FIXED-ORDER addition: each term's
    // contribution is an exact double (single-row conditional sum), and the
    // four are added left-to-right in the declared term order — the
    // deterministic spelling of a cross-term double sum (an agg-order sum
    // would be fold-order-dependent and unoracleable).
    (s, d) => {
      val per = graft.operators.Relevance
        .tfidfPerTerm(t(s, d, "documents"), "doc_id", "text", tfidfTerms)
      val agg = per.groupBy("doc_id").agg(
        coalesce(sum(when(col("term") === "join", col("tfidf"))), lit(0.0)).as("v1"),
        coalesce(sum(when(col("term") === "vector", col("tfidf"))), lit(0.0)).as("v2"),
        coalesce(sum(when(col("term") === "scan", col("tfidf"))), lit(0.0)).as("v3"),
        coalesce(sum(when(col("term") === "data", col("tfidf"))), lit(0.0)).as("v4"))
      agg.select(col("doc_id"),
          (((col("v1") + col("v2")) + col("v3")) + col("v4")).as("score"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
  SELECT doc_id, unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
       WHERE term IN ('join', 'vector', 'scan', 'data') GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM documents),
p AS (SELECT doc_id, term, tf * n * 1.0 / df_docs AS tfidf
      FROM tf JOIN dfq USING (term) CROSS JOIN n),
r AS (SELECT doc_id,
  COALESCE(SUM(CASE WHEN term = 'join' THEN tfidf END), 0) AS v1,
  COALESCE(SUM(CASE WHEN term = 'vector' THEN tfidf END), 0) AS v2,
  COALESCE(SUM(CASE WHEN term = 'scan' THEN tfidf END), 0) AS v3,
  COALESCE(SUM(CASE WHEN term = 'data' THEN tfidf END), 0) AS v4
  FROM p GROUP BY doc_id)
SELECT doc_id, ((v1 + v2) + v3) + v4 AS score FROM r ORDER BY doc_id"""))

  private val x14 = DeclaredQuery("x14_contamination_pairs",
    // benchmark decontamination (Contamination.overlapPairs): the corpus
    // (doc_id % 17 ≠ 0) checked for shared 5-grams against a deterministic
    // "benchmark" slice (doc_id % 17 = 0). The planted near-dup pairs that
    // straddle the split make the overlap non-trivial (4 pairs, up to 57
    // shared grams at sf0.01). Oracle counts string shingles; the operator
    // counts xxhash64 shingle hashes — identical per the x02d injectivity
    // argument, which the hash match proves again here.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.overlapPairs(
          docs.where(pmod(col("doc_id"), lit(17)) =!= 0), "doc_id", "text",
          docs.where(pmod(col("doc_id"), lit(17)) === 0), "doc_id", "text",
          k = 5, minShared = 1)
        .orderBy("corpus_id", "bench_id")
    },
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
corp AS (SELECT * FROM ex WHERE doc_id % 17 <> 0),
bench AS (SELECT * FROM ex WHERE doc_id % 17 = 0)
SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
FROM corp c JOIN bench b USING (g)
GROUP BY 1, 2 ORDER BY corpus_id, bench_id"""))

  private val x14b = DeclaredQuery("x14b_decontaminate",
    // the applied filter: corpus minus contaminated docs, counted per lang —
    // proves the anti-join removes exactly the overlap set
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.decontaminate(
          docs.where(pmod(col("doc_id"), lit(17)) =!= 0), "doc_id", "text",
          docs.where(pmod(col("doc_id"), lit(17)) === 0), "doc_id", "text",
          k = 5, minShared = 1)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    },
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
corp AS (SELECT * FROM ex WHERE doc_id % 17 <> 0),
bench AS (SELECT * FROM ex WHERE doc_id % 17 = 0),
bad AS (SELECT DISTINCT c.doc_id FROM corp c JOIN bench b USING (g))
SELECT lang, COUNT(*) AS n_docs FROM documents
WHERE doc_id % 17 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
GROUP BY lang ORDER BY lang"""))

  private val x14c = DeclaredQuery("x14c_semantic_decontaminate",
    // Embedding-space decontamination (Contamination.semanticDecontaminate):
    // the paraphrase channel — corpus vectors within cosine ≥ 0.40 of any
    // bench vector go (threshold per x02c's note: the synthetic embeddings
    // top out near 0.51 pairwise). Bench broadcasts; corpus streams
    // map-only through the native cosine; oracle spells the same cosine in
    // DuckDB list ops (the fold is bit-identical — pinned by x02c).
    (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Contamination.semanticDecontaminate(
          emb.where(pmod(col("vec_id"), lit(13)) =!= 0), "vec_id", "embedding",
          emb.where(pmod(col("vec_id"), lit(13)) === 0), "embedding",
          minCosine = 0.40)
        .select("vec_id")
        .orderBy("vec_id")
    },
    Some("""WITH b AS (SELECT embedding FROM embeddings WHERE vec_id % 13 = 0),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 13 <> 0),
hit AS (SELECT DISTINCT c.vec_id FROM c, b WHERE
  list_sum(list_transform(list_zip(c.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
  / NULLIF(SQRT(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) >= 0.40)
SELECT vec_id FROM c WHERE vec_id NOT IN (SELECT vec_id FROM hit) ORDER BY vec_id"""))

  private val x15 = DeclaredQuery("x15_profile_table",
    // ANALYZE-style per-column profile (Profiling.profile): one aggregation
    // branch PER COLUMN, unioned — each branch a plain two-phase distinct
    // aggregate over a single pruned column (a fused multi-countDistinct
    // would plan as an Expand replicating every row N+1 times). String-cast
    // min/max keeps the column types that render identically across engines
    // (integers, dates, ASCII strings — doubles would format-drift).
    (s, d) => graft.operators.Profiling
      .profile(t(s, d, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"))
      .orderBy("column_name"),
    Some("""SELECT 'o_custkey' AS column_name, COUNT(*) AS n_rows,
  COUNT(*) - COUNT(o_custkey) AS n_nulls, COUNT(DISTINCT o_custkey) AS n_distinct,
  CAST(MIN(o_custkey) AS VARCHAR) AS min_value, CAST(MAX(o_custkey) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
  CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR) FROM orders
UNION ALL
SELECT 'o_orderkey', COUNT(*), COUNT(*) - COUNT(o_orderkey), COUNT(DISTINCT o_orderkey),
  CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
  CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
ORDER BY column_name"""))

  // Shared DuckDB CTE block: exact 3-token-shingle Jaccard pairs at the given
  // threshold (the x02d spelling) → symmetric edge list → transitive closure
  // via recursive CTE → per-node min reachable id. The Spark side computes the
  // same closure with the distributed large-star/small-star algorithm — the
  // oracle pins that an O(log n)-round shared-nothing iteration equals the
  // textbook sequential semantics.
  private def ccOracle(tail: String, minJ: String = "0.6") =
    s"""WITH RECURSIVE sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (SELECT id_1, id_2 FROM isect
          JOIN sz sa ON sa.doc_id = id_1 JOIN sz sb ON sb.doc_id = id_2
          WHERE c * 1.0 / NULLIF(sa.n + sb.n - c, 0) >= $minJ),
edges AS (SELECT id_1 AS a, id_2 AS b FROM pairs UNION SELECT id_2, id_1 FROM pairs),
reach(n, m) AS (SELECT a, b FROM edges
  UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
comp AS (SELECT n AS node, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n)
$tail"""

  private val x16 = DeclaredQuery("x16_neardup_components",
    // Fuzzy-dedup final stage, part 1: near-duplicate PAIRS (x02d's exact
    // Jaccard at 0.6) collapsed into CLUSTERS by distributed connected
    // components (alternating large-star/small-star — O(log²) rounds of
    // narrow (long,long) shuffles, lineage truncated per round). A dup group
    // is the transitive closure of its pairs: A~B, B~C must merge even when
    // A~C was never emitted.
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val docs = spread(t(s, d, "documents"))
      val pairs = graft.operators.NearDup
        .jaccardPairsExact(docs, "doc_id", "text", minJaccard = 0.6)
      graft.operators.ConnectedComponents
        .componentsOf(docs, "doc_id", pairs, "id_1", "id_2")
        .select(col("node").as("doc_id"), col("component"))
        .orderBy("doc_id")
    },
    Some(ccOracle(
      """SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
ORDER BY d.doc_id""")))

  private val x16b = DeclaredQuery("x16b_neardup_cluster_dedup",
    // Part 2: keep ONE representative per cluster — the minimum doc_id, so
    // the kept set is deterministic and partitioning-invariant. Uniques
    // survive as singletons. Output: per-language kept counts.
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val docs = spread(t(s, d, "documents"))
      val pairs = graft.operators.NearDup
        .jaccardPairsExact(docs, "doc_id", "text", minJaccard = 0.6)
      graft.operators.Dedup
        .keepClusterRepresentatives(docs, "doc_id", pairs)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")
    },
    Some(ccOracle(
      """SELECT d.lang, COUNT(*) AS n_kept
FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
WHERE COALESCE(c.component, d.doc_id) = d.doc_id
GROUP BY d.lang ORDER BY d.lang""")))

  private val x16c = DeclaredQuery("x16c_semantic_components",
    // SemDeDup-flavored semantic dedup: the cluster graph is embedding-cosine
    // pairs (x02c's exact spelling at 0.45) instead of lexical shingles; the
    // same distributed closure applies. At 100 TB the pair generator swaps to
    // the LSH/IVF candidate path — the closure stage is unchanged.
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val e = spread(t(s, d, "embeddings"))
      val pairs = graft.operators.NearDup
        .cosinePairsExact(e, "vec_id", "embedding", minCosine = 0.45)
      graft.operators.ConnectedComponents
        .componentsOf(e, "vec_id", pairs, "id_1", "id_2")
        .select(col("node").as("vec_id"), col("component"))
        .orderBy("vec_id")
    },
    Some("""WITH RECURSIVE p0 AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
    AND list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
    / NULLIF(SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) >= 0.45),
edges AS (SELECT id_1 AS a, id_2 AS b FROM p0 UNION SELECT id_2, id_1 FROM p0),
reach(n, m) AS (SELECT a, b FROM edges
  UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
comp AS (SELECT n AS node, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n)
SELECT v.vec_id, COALESCE(c.component, v.vec_id) AS component
FROM embeddings v LEFT JOIN comp c ON c.node = v.vec_id
ORDER BY v.vec_id"""))

  private val x17 = DeclaredQuery("x17_pii_redact",
    // PII scrubbing (Scrub.redactPii): URL → email → IPv4 → phone, fixed
    // order, all-builtin regexp_replace — a map-only codegen'd pass. The
    // synthetic corpus carries no PII, so the entry PLANTS one of each kind
    // deterministically from doc_id and pins that both engines redact the
    // augmented text identically (DuckDB needs the 'g' flag — its
    // regexp_replace is first-match by default, Spark's is global).
    (s, d) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com at 10.2.0."),
        pmod(col("doc_id"), lit(200)), lit(" or +1 800 555 "),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" via https://ex.com/"), col("doc_id"))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.Scrub.redactPii(planted).as("clean"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.2.0.'
      || CAST(doc_id % 200 AS VARCHAR) || ' or +1 800 555 '
      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      || ' via https://ex.com/' || CAST(doc_id AS VARCHAR) AS s
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
    'https?://[^\s]+', '<URL>', 'g'),
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\+\d{1,2}[ -]\d{3}[ -]\d{3}[ -]\d{4}', '<PHONE>', 'g') AS clean
FROM p ORDER BY doc_id"""))

  private val x17b = DeclaredQuery("x17b_c4_filter",
    // C4-style boilerplate filtering (Scrub.c4Keep / line signals). The
    // corpus has no newlines, so the entry derives a line structure both
    // engines can rebuild exactly (every ' table ' becomes '.\n' — plain
    // string replace, no regex) and aggregates per language: docs kept by
    // the C4 rule, plus corpus-level line counts. Fractions are ONE division
    // of exact integer sums — bit-stable cross-engine.
    (s, d) => {
      val lined = replace(col("text"), lit(" table "), lit(".\n"))
      val ls = graft.functions.Scrub.lines(lined)
      val nTerm = size(filter(ls, l => trim(l).endsWith(".")))
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          graft.functions.Scrub.c4Keep(lined).as("keep"),
          size(ls).as("n_lines"), nTerm.as("n_term"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_lines").cast("long")).as("total_lines"),
          (sum(col("n_term").cast("long")).cast("double") /
            sum(col("n_lines").cast("long")).cast("double")).as("frac_terminal"))
        .orderBy("lang")
    },
    Some("""WITH p AS (
  SELECT lang, doc_id, replace(text, ' table ', '.' || chr(10)) AS s FROM documents),
l AS (
  SELECT lang, doc_id, s,
    list_filter(regexp_split_to_array(s, '\n'), x -> length(trim(x)) > 0) AS ls
  FROM p),
sig AS (
  SELECT lang, doc_id,
    len(ls) AS n_lines,
    len(list_filter(ls, x -> ends_with(trim(x), '.'))) AS n_term,
    (len(list_filter(ls, x ->
        (ends_with(trim(x), '.') OR ends_with(trim(x), '!') OR ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
        AND len(list_filter(regexp_split_to_array(trim(x), '\s+'), w -> length(w) > 0)) >= 3)) >= 3
      AND NOT contains(s, '{') AND NOT contains(s, '}')
      AND NOT contains(lower(s), 'lorem ipsum')) AS keep
  FROM l)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(n_lines) AS BIGINT) AS total_lines,
  CAST(SUM(n_term) AS DOUBLE) / CAST(SUM(n_lines) AS DOUBLE) AS frac_terminal
FROM sig GROUP BY lang ORDER BY lang"""))

  private val x10c = DeclaredQuery("x10c_curation_pipeline",
    // Composed flagship v3 over the round-6 operators: C4 boilerplate filter
    // (x17b's derived line structure) → cluster-level fuzzy dedup (exact
    // Jaccard pairs at 0.6 → distributed connected components → min-id
    // representative, x16b) → corpus token-rarity accounting (x19) — the
    // full "curate a pretraining corpus" path as one composition, oracled
    // end-to-end against a single DuckDB derivation (keep rule + recursive-
    // CTE closure + rarity join). Per-language output: surviving docs,
    // their token mass, and the min/max per-doc rarity (exact selections of
    // bit-stable doubles — no FP accumulation crosses engines).
    (s, d) => {
      val docs = t(s, d, "documents")
      val lined = replace(col("text"), lit(" table "), lit(".\n"))
      val kept = docs.where(graft.functions.Scrub.c4Keep(lined))
      val pairs = graft.operators.NearDup
        .jaccardPairsExact(kept, "doc_id", "text", minJaccard = 0.6)
      val reps = graft.operators.Dedup
        .keepClusterRepresentatives(kept, "doc_id", pairs)
      val rarity = graft.operators.Relevance
        .tokenRarity(reps, "doc_id", "text")
      reps.join(rarity, Seq("doc_id"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_tokens"), lit(0L))).as("total_tokens"),
          min("mean_token_freq").as("min_rarity"),
          max("mean_token_freq").as("max_rarity"))
        .orderBy("lang")
    },
    Some("""WITH RECURSIVE p AS (
  SELECT doc_id, lang, text, replace(text, ' table ', '.' || chr(10)) AS s FROM documents),
keptd AS (
  SELECT doc_id, lang, text FROM p
  WHERE (len(list_filter(list_filter(regexp_split_to_array(s, '\n'), x -> length(trim(x)) > 0), x ->
        (ends_with(trim(x), '.') OR ends_with(trim(x), '!') OR ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
        AND len(list_filter(regexp_split_to_array(trim(x), '\s+'), w -> length(w) > 0)) >= 3)) >= 3
    AND NOT contains(s, '{') AND NOT contains(s, '}')
    AND NOT contains(lower(s), 'lorem ipsum'))),
sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS sg
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM keptd)),
ex AS (SELECT doc_id, unnest(sg) AS g FROM sh),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(sg) AS n FROM sh),
prs AS (SELECT id_1, id_2 FROM isect
        JOIN sz sa ON sa.doc_id = id_1 JOIN sz sb ON sb.doc_id = id_2
        WHERE c * 1.0 / NULLIF(sa.n + sb.n - c, 0) >= 0.6),
edges AS (SELECT id_1 AS a, id_2 AS b FROM prs UNION SELECT id_2, id_1 FROM prs),
reach(n, m) AS (SELECT a, b FROM edges
  UNION SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
comp AS (SELECT n AS node, LEAST(n, MIN(m)) AS component FROM reach GROUP BY n),
reps AS (SELECT d.doc_id, d.lang, d.text FROM keptd d
         LEFT JOIN comp c ON c.node = d.doc_id
         WHERE COALESCE(c.component, d.doc_id) = d.doc_id),
tk AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS token
       FROM reps),
tc AS (SELECT token, COUNT(*) AS c FROM tk GROUP BY token),
rar AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mtf
        FROM tk JOIN tc USING (token) GROUP BY doc_id)
SELECT lang, COUNT(*) AS n_docs,
  CAST(SUM(COALESCE(n_tokens, 0)) AS BIGINT) AS total_tokens,
  MIN(mtf) AS min_rarity, MAX(mtf) AS max_rarity
FROM reps LEFT JOIN rar USING (doc_id)
GROUP BY lang ORDER BY lang"""))

  private val x18 = DeclaredQuery("x18_zorder_values",
    // Z-order (Morton) clustering value (Layout.zOrder2): two coordinates
    // interleaved bit-by-bit with builtin shift/xor/mask expressions — the
    // data-layout primitive behind multi-column file skipping. The oracle
    // spells the identical magic-number spread chain in DuckDB's 64-bit
    // integer semantics; LayoutSpec pins the locality property that makes it
    // worth writing (per-slice bounding boxes shrink in BOTH dimensions).
    (s, d) => {
      val dayN = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      t(s, d, "orders")
        .select(col("o_orderkey"),
          graft.operators.Layout.zOrder2(col("o_custkey"), dayN).as("zval"))
        .orderBy("o_orderkey")
    },
    Some(s"""SELECT o_orderkey,
  ${graft.operators.Layout.zOrder2Sql("o_custkey",
      "datediff('day', DATE '1992-01-01', o_orderdate)")} AS zval
FROM orders ORDER BY o_orderkey"""))

  private val x19 = DeclaredQuery("x19_token_rarity",
    // Corpus token-rarity scoring (Relevance.tokenRarity): mean corpus
    // frequency of each doc's token instances — a log-free surprisal proxy
    // for mixture stratification. Score is ONE division of exact integer
    // sums → bit-identical cross-engine.
    (s, d) => graft.operators.Relevance
      .tokenRarity(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH tk AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS token
  FROM documents),
tc AS (SELECT token, COUNT(*) AS c FROM tk GROUP BY token)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_token_freq
FROM tk JOIN tc USING (token) GROUP BY doc_id ORDER BY doc_id"""))

  private val x20 = DeclaredQuery("x20_dedup_against",
    // Incremental snapshot dedup (Dedup.dedupeAgainst): the new half of the
    // corpus (doc_id >= 250) deduped against the kept half (< 250) on an
    // 80-char leading-prefix key — CCNet-style prefix dedup across crawls.
    // Both sides reduce to distinct 8-byte xxhash64 keys before the
    // anti-join; document bodies never shuffle. 12 of 250 new docs share a
    // kept prefix at sf0.01, so the entry exercises real removal.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dedup.dedupeAgainst(
          docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
          df => substring(df("text"), 1, 80))
        .select("doc_id").orderBy("doc_id")
    },
    Some("""SELECT doc_id FROM documents n WHERE doc_id >= 250 AND NOT EXISTS (
  SELECT 1 FROM documents s WHERE s.doc_id < 250 AND substr(s.text, 1, 80) = substr(n.text, 1, 80))
ORDER BY doc_id"""))

  private val x20d = DeclaredQuery("x20d_dedup_against_bloom",
    // The bloom-prefiltered form of x20 (Dedup.dedupeAgainstBloom): Spark's
    // BloomFilterAggregate over the seen keys, definite-unseen rows skip the
    // anti-join shuffle, maybes are exactly re-verified. SAME oracle as x20:
    // the bloom is an optimization with zero semantic surface — false
    // positives cost shuffle bytes, never rows.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dedup.dedupeAgainstBloom(
          docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
          df => substring(df("text"), 1, 80), expectedDistinct = 1000L)
        .select("doc_id").orderBy("doc_id")
    },
    Some("""SELECT doc_id FROM documents n WHERE doc_id >= 250 AND NOT EXISTS (
  SELECT 1 FROM documents s WHERE s.doc_id < 250 AND substr(s.text, 1, 80) = substr(n.text, 1, 80))
ORDER BY doc_id"""))

  private val x20b = DeclaredQuery("x20b_neardup_against",
    // Incremental FUZZY dedup pairs (NearDup.nearDuplicatesAgainst): LSH
    // band keys joined new×seen instead of self-joined, exact-Jaccard
    // verified. Oracle is the brute-force cross-corpus Jaccard (same
    // spelling as x02's, restricted to seen<250 ≤ new) — matching it pins
    // cross-corpus LSH recall at 1.0 for j ≥ 0.8, same S-curve argument.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.NearDup.nearDuplicatesAgainst(
          docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
          "doc_id", "text", minJaccard = 0.8)
        .select(col("new_id"), col("seen_id"), round2(col("jaccard")).as("jaccard"))
        .orderBy("new_id", "seen_id")
    },
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
exn AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 250),
exs AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id < 250),
isect AS (SELECT n.doc_id AS new_id, a.doc_id AS seen_id, COUNT(*) AS c
          FROM exn n JOIN exs a USING (g) GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (SELECT new_id, seen_id, c * 1.0 / NULLIF(sa.n + sb.n - c, 0) AS j
          FROM isect JOIN sz sa ON sa.doc_id = new_id JOIN sz sb ON sb.doc_id = seen_id)
SELECT new_id, seen_id, FLOOR(j*100+0.5)/100 AS jaccard FROM pairs WHERE j >= 0.8 ORDER BY new_id, seen_id"""))

  private val x20e = DeclaredQuery("x20e_neardup_against_index",
    // incremental LSH dedup against the PERSISTED near-dup index artifact
    // (NearDup.buildNearDupIndex → nearDuplicatesAgainstIndex): identical
    // semantics to x20b, but the kept corpus contributes only its
    // signature + shingle-set artifact — its text is never re-read, the
    // incremental shape when the kept corpus dwarfs each new dump.
    // Featurization params ride inside the artifact. Same brute-force
    // DuckDB oracle as x20b: the hash match proves the artifact path
    // loses nothing vs re-featurizing the corpus.
    (s, d) => {
      val docs = t(s, d, "documents")
      val idx = graft.operators.NearDup.buildNearDupIndex(
        docs.where(col("doc_id") < 250), "doc_id", "text")
      graft.operators.NearDup.nearDuplicatesAgainstIndex(
          docs.where(col("doc_id") >= 250), idx, "doc_id", "text",
          minJaccard = 0.8)
        .select(col("new_id"), col("seen_id"), round2(col("jaccard")).as("jaccard"))
        .orderBy("new_id", "seen_id")
    },
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
exn AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 250),
exs AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id < 250),
isect AS (SELECT n.doc_id AS new_id, a.doc_id AS seen_id, COUNT(*) AS c
          FROM exn n JOIN exs a USING (g) GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
pairs AS (SELECT new_id, seen_id, c * 1.0 / NULLIF(sa.n + sb.n - c, 0) AS j
          FROM isect JOIN sz sa ON sa.doc_id = new_id JOIN sz sb ON sb.doc_id = seen_id)
SELECT new_id, seen_id, FLOOR(j*100+0.5)/100 AS jaccard FROM pairs WHERE j >= 0.8 ORDER BY new_id, seen_id"""))

  private val x20c = DeclaredQuery("x20c_dedupe_against_fuzzy",
    // The composed incremental clean (Dedup.dedupeAgainstFuzzy): new docs
    // surviving fuzzy dedup against the kept corpus — x20b's pair list
    // collapsed to one anti-join on new ids.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Dedup.dedupeAgainstFuzzy(
          docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
          "doc_id", "text", minJaccard = 0.8)
        .select("doc_id").orderBy("doc_id")
    },
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
exn AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id >= 250),
exs AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id < 250),
isect AS (SELECT n.doc_id AS new_id, a.doc_id AS seen_id, COUNT(*) AS c
          FROM exn n JOIN exs a USING (g) GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
hits AS (SELECT DISTINCT new_id
         FROM isect JOIN sz sa ON sa.doc_id = new_id JOIN sz sb ON sb.doc_id = seen_id
         WHERE c * 1.0 / NULLIF(sa.n + sb.n - c, 0) >= 0.8)
SELECT doc_id FROM documents n WHERE doc_id >= 250
  AND NOT EXISTS (SELECT 1 FROM hits h WHERE h.new_id = n.doc_id)
ORDER BY doc_id"""))

  private val x21 = DeclaredQuery("x21_quality_classifier",
    // Linear-model inference (Scoring.applyLinearModel): a fasttext-style
    // quality classifier applied as ONE codegen'd per-row expression — no
    // UDF, no shuffle, fuses with the scan. Features stay as inspectable
    // columns; margin is a FIXED left-to-right fold, so the IEEE op sequence
    // matches the oracle's left-assoc spelling bit-for-bit (keep is decided
    // on the UNROUNDED margin in both engines). 271/500 kept at sf0.01 —
    // the threshold genuinely splits the corpus.
    (s, d) => {
      import graft.functions.TextAnalysis
      val feats = t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("double").as("n_tokens_f"),
        (size(array_distinct(TextAnalysis.tokens(col("text")))).cast("double") /
          TextAnalysis.tokenCount(col("text")).cast("double")).as("distinct_ratio"))
      graft.functions.Scoring.applyLinearModel(feats,
          Seq("n_tokens_f" -> 0.08, "distinct_ratio" -> 4.0), bias = -6.0)
        .select(col("doc_id"), round2(col("margin")).as("margin"), col("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS DOUBLE) AS nt,
  CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0))) AS DOUBLE) AS nd
FROM documents)
SELECT doc_id,
  FLOOR((-6.0 + nt * 0.08 + (nd / nt) * 4.0) * 100 + 0.5) / 100 AS margin,
  (-6.0 + nt * 0.08 + (nd / nt) * 4.0) > 0.0 AS keep
FROM f ORDER BY doc_id"""))

  private val x22 = DeclaredQuery("x22_bigram_assoc",
    // Corpus bigram-association scoring (Relevance.bigramAssociation): a
    // language-model-ish fluency proxy — Σ C(bigram) / Σ C(prefix) over each
    // doc's adjacent token pairs. Log-free: one division of exact integer
    // sums, bit-identical cross-engine. Word-count shape twice; nothing
    // quadratic, nothing collected.
    (s, d) => graft.operators.Relevance
      .bigramAssociation(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some("""WITH tk AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents),
bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true) FROM tk),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(c2) AS DOUBLE) / CAST(SUM(c1) AS DOUBLE) AS bigram_assoc
FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id ORDER BY doc_id"""))

  private val x23 = DeclaredQuery("x23_pq_topk",
    // Product-quantized ANN (ProductQuantization): 64-float vectors → 8
    // byte-codes (32× compression), query scoring = 8 table lookups per
    // candidate via the native ADC expression. No SQL oracle exists for
    // argmin-over-trained-codebooks (rows-only by declaration, like
    // x03b/x03c); ground truth is PqSpec's JVM brute-force recall + exact
    // reconstruction-error pins.
    (s, d) => {
      import graft.operators.ProductQuantization
      val emb = t(s, d, "embeddings")
      val cb = ProductQuantization.trainPq(emb, "vec_id", "embedding", dim = 64,
        m = 8, ksub = 16, iters = 1)
      val codes = ProductQuantization.encode(emb, "embedding", cb)
      ProductQuantization.pqTopKAll(codes, emb.where(col("vec_id") < 5),
          "vec_id", "pq_code", "vec_id", "embedding", cb, k = 10, excludeSelf = true)
        .select("query_id", "corpus_id", "rank")
        .orderBy("query_id", "rank")
    },
    None)

  private val x23b = DeclaredQuery("x23b_ivfpq_topk",
    // IVF-PQ, residual form (the true IVFADC): coarse cells prune candidates
    // (narrow equi-join on the cell id — nprobe/nlist of the corpus ever
    // scored), PQ codes quantize v − centroid(cell) — codebooks trained on
    // the residual distribution — and score survivors via per-(query, cell)
    // ADC tables. Build pass assigns cell + codes once; search never touches
    // raw vectors. Raw-encoded nprobe=nlist reduces to x23's flat search
    // exactly; residual cuts reconstruction error >2× on clustered data
    // (both pinned in PqSpec).
    (s, d) => {
      import graft.operators.{ProductQuantization, SimilaritySearch}
      val emb = t(s, d, "embeddings")
      val cents = SimilaritySearch.trainIvf(emb, "vec_id", "embedding",
        nlist = 16, refineIters = 1)
      val residuals = ProductQuantization.residualsOf(emb, "vec_id", "embedding", cents)
      val cb = ProductQuantization.trainPq(residuals, "vec_id", "residual", dim = 64,
        m = 8, ksub = 16, iters = 1)
      val indexed = ProductQuantization.ivfPqAssign(emb, "vec_id", "embedding", cents, cb,
        residual = true)
      ProductQuantization.ivfPqTopKAll(indexed, emb.where(col("vec_id") < 5),
          "vec_id", "cell", "pq_code", "vec_id", "embedding", cents, cb,
          nprobe = 4, k = 10, excludeSelf = true, residual = true)
        .select("query_id", "corpus_id", "rank")
        .orderBy("query_id", "rank")
    },
    None)

  private val x29 = DeclaredQuery("x29_correlation_matrix",
    // One-scan Pearson correlation matrix (Profiling.correlationMatrix):
    // the D numeric columns pack into one array through the native Gramian
    // aggregate — a single column-pruned pass and one D²-bounded buffer per
    // partition, vs D(D-1)/2 separate corr() aggregates each re-scanning
    // the table. Oracled vs DuckDB corr(): the population/sample
    // normalizations cancel in the ratio, so values agree to float
    // rounding; round4 both sides. lineitem's numeric columns have no
    // NULLs, so listwise and pairwise deletion coincide exactly.
    (s, d) => {
      graft.operators.Profiling.correlationMatrix(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .select(col("col_1"), col("col_2"),
          (floor(col("corr") * 10000 + 0.5) / 10000).as("corr4"))
        .orderBy("col_1", "col_2")
    },
    Some("""WITH p AS (
  SELECT 'l_quantity' AS col_1, 'l_extendedprice' AS col_2, corr(l_quantity, l_extendedprice) AS c FROM lineitem
  UNION ALL SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount) FROM lineitem
  UNION ALL SELECT 'l_quantity', 'l_tax', corr(l_quantity, l_tax) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 'l_discount', corr(l_extendedprice, l_discount) FROM lineitem
  UNION ALL SELECT 'l_extendedprice', 'l_tax', corr(l_extendedprice, l_tax) FROM lineitem
  UNION ALL SELECT 'l_discount', 'l_tax', corr(l_discount, l_tax) FROM lineitem)
SELECT col_1, col_2, FLOOR(c*10000 + 0.5)/10000 AS corr4 FROM p ORDER BY col_1, col_2"""))

  private val x29c = DeclaredQuery("x29c_correlation_pairwise",
    // Pairwise-deletion correlation (SQL corr()'s native NULL policy: each
    // pair uses every row where ITS two columns are both non-null) — still
    // one Gramian scan via the [values, null-masks, squares] packing. The
    // NULLIF planting (same expression both engines) makes the three
    // columns null on DIFFERENT rows, so pairwise and listwise genuinely
    // diverge and the oracle pins the per-pair row universes.
    (s, d) => {
      val planted = t(s, d, "lineitem").select(
        nullif(col("l_quantity"), lit(17.0)).as("q"),
        nullif(col("l_discount"), lit(0.04)).as("disc"),
        nullif(col("l_tax"), lit(0.02)).as("tax"))
      graft.operators.Profiling.correlationMatrix(planted,
          Seq("q", "disc", "tax"), deletion = "pairwise")
        .select(col("col_1"), col("col_2"),
          (floor(col("corr") * 10000 + 0.5) / 10000).as("corr4"))
        .orderBy("col_1", "col_2")
    },
    Some("""WITH src AS (
  SELECT NULLIF(l_quantity, 17.0) AS q, NULLIF(l_discount, 0.04) AS disc,
         NULLIF(l_tax, 0.02) AS tax FROM lineitem),
p AS (
  SELECT 'q' AS col_1, 'disc' AS col_2, corr(q, disc) AS c FROM src
  UNION ALL SELECT 'q', 'tax', corr(q, tax) FROM src
  UNION ALL SELECT 'disc', 'tax', corr(disc, tax) FROM src)
SELECT col_1, col_2, FLOOR(c*10000 + 0.5)/10000 AS corr4 FROM p ORDER BY col_1, col_2"""))

  private val x29b = DeclaredQuery("x29b_standardize",
    // Z-score feature scaling (Profiling.standardize): μ/σ from the same
    // one-scan Gramian pass as x29, applied map-only. Oracled vs DuckDB
    // window AVG/STDDEV_POP — the driver-derived moments must agree with
    // the engine-computed ones to float rounding (round4 both sides).
    // (l_orderkey, l_linenumber) is NOT unique → total ORDER BY over all
    // output columns.
    (s, d) => {
      graft.operators.Profiling.standardize(t(s, d, "lineitem"),
          Seq("l_quantity", "l_extendedprice"))
        .select(col("l_orderkey"), col("l_linenumber"),
          (floor(col("l_quantity_z") * 10000 + 0.5) / 10000).as("qz"),
          (floor(col("l_extendedprice_z") * 10000 + 0.5) / 10000).as("pz"))
        .orderBy("l_orderkey", "l_linenumber", "qz", "pz")
    },
    Some("""SELECT l_orderkey, l_linenumber,
  FLOOR(((l_quantity - AVG(l_quantity) OVER ()) / STDDEV_POP(l_quantity) OVER ())*10000 + 0.5)/10000 AS qz,
  FLOOR(((l_extendedprice - AVG(l_extendedprice) OVER ()) / STDDEV_POP(l_extendedprice) OVER ())*10000 + 0.5)/10000 AS pz
FROM lineitem ORDER BY l_orderkey, l_linenumber, qz, pz"""))

  private val x30 = DeclaredQuery("x30_semantic_dedup",
    // SemDeDup (cluster-then-compare) end to end: IVF-trained k-means cells
    // bound the candidate stage to ≈ n²/nlist within-cell comparisons —
    // the subquadratic scale path over x16c's exact n² pair closure. Pairs
    // at the same 0.45 cosine bar collapse via the same distributed
    // closure; minimum-id representative kept. Rows-only by declaration:
    // the cell structure is k-means-derived (not SQL-expressible) — ground
    // truth is ExtensionsSpec's pins (nlist = 1 ≡ the exact brute-force
    // kept set; clustered pair recall vs cosinePairsExact; partitioning
    // invariance).
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val e = spread(t(s, d, "embeddings"))
      graft.operators.NearDup.semanticDedupe(e, "vec_id", "embedding",
          minCosine = 0.45, nlist = 8, refineIters = 2, probes = 2)
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    },
    None)

  private val x31 = DeclaredQuery("x31_heavy_hitters",
    // certified exact top-k tokens via the two-pass Misra–Gries recipe
    // (HeavyHitters.topTokens): pass 1 is ONE aggregate whose partial state
    // is <= capacity counters (the shuffle is partitions x capacity rows,
    // vocabulary-independent), pass 2 recounts only the surviving
    // candidates exactly. The oracle is the plain exact top-k — the hash
    // match proves the bounded-shuffle path loses nothing (the result is
    // certified: k-th count beats the n/(capacity+1) miss bound).
    (s, d) => graft.operators.HeavyHitters
      .topTokens(t(s, d, "documents"), "text", k = 20, capacity = 64)
      .orderBy(desc("cnt"), col("term")),
    Some("""WITH tok AS (
  SELECT unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term
  FROM documents),
c AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1)
SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20"""))

  private val x31c = DeclaredQuery("x31c_mg_sketch",
    // the sketch itself, oracled through its exactness clause: with
    // capacity >= vocabulary nothing is ever discarded (sum(est) = n), so
    // the Misra–Gries estimates ARE the exact frequency table and DuckDB
    // can check every (term, est, n_tokens) row. The under-capacity bounds
    // (est <= true <= est + n/(cap+1)) are pinned in HeavyHittersSpec on a
    // skewed fixture where discards actually happen.
    (s, d) => {
      val docs = t(s, d, "documents")
      val toks = docs.select(explode(transform(
        graft.functions.TextAnalysis.tokens(col("text")), w => lower(w)))
        .as("token"))
      graft.operators.HeavyHitters.sketch(toks, "token", capacity = 4096)
        .orderBy(desc("est"), col("term"))
    },
    Some("""WITH tok AS (
  SELECT unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term
  FROM documents),
c AS (SELECT term, COUNT(*) AS est FROM tok GROUP BY 1),
n AS (SELECT COUNT(*) AS n_tokens FROM tok)
SELECT term, est, n_tokens FROM c CROSS JOIN n ORDER BY est DESC, term"""))

  private val x32 = DeclaredQuery("x32_lm_score",
    // CCNet-style fluency gate (LanguageModel.selfScore): train a stupid-
    // backoff bigram LM on the corpus (two count aggregations — the model
    // stays a DISTRIBUTED relation, never a driver artifact) and score
    // every doc by mean log10 backoff probability. Scoring is explode +
    // three equi-joins — AQE broadcasts the count tables when they fit.
    // Oracled against the same train+score derivation in DuckDB SQL;
    // the mean of logs is rounded to 4 decimals on both sides (libm log10
    // and fold order differ by ulps across engines, nothing more).
    (s, d) => graft.operators.LanguageModel
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      .selfScore(spread(t(s, d, "documents")), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("lm_score") * 10000 + 0.5) / 10000).as("lm_score4"))
      .orderBy("doc_id"),
    Some("""WITH tok AS (
  SELECT doc_id, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS ts
  FROM documents),
uni AS (SELECT t AS term, COUNT(*) AS c1
        FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM (SELECT unnest(ts) FROM tok)),
pos AS (SELECT doc_id, p[1] AS w1, p[2] AS w2
        FROM (SELECT doc_id,
                unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i+1]])) AS p
              FROM tok WHERE len(ts) >= 2)),
big AS (SELECT w1, w2, COUNT(*) AS c2 FROM pos GROUP BY 1, 2),
sc AS (SELECT pos.doc_id,
         CASE WHEN b.c2 IS NOT NULL THEN b.c2 * 1.0 / u1.c1
              WHEN u2.c1 IS NOT NULL THEN 0.4 * u2.c1 / n.n
              ELSE 0.4 / n.n END AS p
       FROM pos
       LEFT JOIN big b ON pos.w1 = b.w1 AND pos.w2 = b.w2
       LEFT JOIN uni u1 ON pos.w1 = u1.term
       LEFT JOIN uni u2 ON pos.w2 = u2.term
       CROSS JOIN n),
agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
          FLOOR(AVG(LOG10(p)) * 10000 + 0.5) / 10000 AS lm_score4
        FROM sc GROUP BY doc_id)
SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.lm_score4
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""))

  private val x32b = DeclaredQuery("x32b_lm_bigrams",
    // the trained bigram table itself (LanguageModel.trainBigram): exact
    // transition counts — the distributed "model weights" x32 scores with.
    // Top-50 by count with a total tiebreak order.
    (s, d) => {
      val lm = graft.operators.LanguageModel.trainBigram(t(s, d, "documents"), "text")
      lm.bigrams.orderBy(desc("c2"), col("w1"), col("w2")).limit(50)
    },
    Some("""WITH tok AS (
  SELECT doc_id, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS ts
  FROM documents),
pos AS (SELECT p[1] AS w1, p[2] AS w2
        FROM (SELECT unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i+1]])) AS p
              FROM tok WHERE len(ts) >= 2))
SELECT w1, w2, COUNT(*) AS c2 FROM pos GROUP BY 1, 2
ORDER BY c2 DESC, w1, w2 LIMIT 50"""))

  private val x33 = DeclaredQuery("x33_image_ahash",
    // perceptual average-hash over the binary media column
    // (Multimodal.averageHash): real images take the 8×8 area-mean
    // luminance aHash; the synthesized GRFT payloads hash their body's 64
    // nibbles — which DuckDB re-derives from sha256 hex (bit = hex char
    // ≥ '8'), so the whole decode→hash kernel is oracled byte-exactly on
    // the synthetic path (the real-image path is pinned in ExtensionsSpec:
    // identity, brightness-shift, and resize stability). Output is the
    // 64-char bit string — sign-free across engines.
    (s, d) => {
      implicit val sp: SparkSession = s
      val media = graft.operators.Multimodal.synthesize(t(s, d, "documents"), "doc_id")
      graft.operators.Multimodal.averageHash(media).toDF()
        .select(col("media_id"), lpad(bin(col("ahash")), 64, "0").as("bits"))
        .orderBy("media_id")
    },
    Some("""SELECT doc_id AS media_id,
  array_to_string(list_transform(range(1, 65),
    i -> CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1) >= '8'
         THEN '1' ELSE '0' END), '') AS bits
FROM documents ORDER BY media_id"""))

  private val x34 = DeclaredQuery("x34_html_extract",
    // HTML → text boilerplate strip (Scrub.htmlToText) — the opening stage
    // of every web-crawl pipeline, regex-grade tier (Java∩RE2 subset, like
    // x17). The corpus is wrapped in a deterministic page template (title,
    // style + script blocks with content, a comment, entities incl. a
    // DOUBLE-escaped one) and extracted back; the hash match pins block
    // removal, tag removal, the entity decode order (&amp; last, single
    // pass — "&amp;amp;" must yield the literal "&amp;", never "&"), and
    // whitespace collapse, identically in both engines.
    (s, d) => {
      val wrapped = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>body { color: #111; }</style>" +
          "<script>var x = 1 < 2;</script></head><body><!-- id "),
        col("doc_id"),
        lit(" --><h1>Doc &quot;"), col("doc_id"),
        lit("&quot;</h1><p class=\"main\">"), col("text"),
        lit("</p><div>tail &amp;amp; &lt;entities&gt;&nbsp;ok</div></body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.Scrub.htmlToText(wrapped).as("clean"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || '</title><style>body { color: #111; }</style><script>var x = 1 < 2;</script></head><body><!-- id '
    || CAST(doc_id AS VARCHAR) || ' --><h1>Doc &quot;' || CAST(doc_id AS VARCHAR)
    || '&quot;</h1><p class="main">' || text
    || '</p><div>tail &amp;amp; &lt;entities&gt;&nbsp;ok</div></body></html>' AS h
  FROM documents)
SELECT doc_id, trim(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
    '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
    '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
    '(?s)<!--.*?-->', ' ', 'g'),
    '<[^>]+>', ' ', 'g'),
    '&lt;', '<', 'g'),
    '&gt;', '>', 'g'),
    '&quot;', '"', 'g'),
    '&#39;', '''', 'g'),
    '&nbsp;', ' ', 'g'),
    '&amp;', '&', 'g'),
  '\s+', ' ', 'g')) AS clean
FROM w ORDER BY doc_id"""))

  private val x23c = DeclaredQuery("x23c_opq_topk",
    // OPQ-rotated PQ ANN (trainOpq/encodeOpq/opqTopKAll): a full-rank
    // orthonormal PCA rotation decorrelates the axes (L2 distances exactly
    // preserved), then PQ trains/encodes/searches in the rotated space —
    // the same code budget spent on less redundant structure. Rows-only by
    // declaration like x23/x23b; ground truth is PqSpec's recall(OPQ) ≥
    // recall(PQ) pin on an anisotropic fixture plus the rotation's own
    // PcaSpec orthonormality pins.
    (s, d) => {
      import graft.operators.ProductQuantization
      val emb = t(s, d, "embeddings")
      val model = ProductQuantization.trainOpq(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16, iters = 1)
      val codes = ProductQuantization.encodeOpq(emb, "embedding", model)
      ProductQuantization.opqTopKAll(codes, emb.where(col("vec_id") < 5),
          "vec_id", "pq_code", "vec_id", "embedding", model, k = 10,
          excludeSelf = true)
        .select("query_id", "corpus_id", "rank")
        .orderBy("query_id", "rank")
    },
    None)

  private val x24 = DeclaredQuery("x24_jsonl_roundtrip",
    // JSONL source/sink (sources/JsonL): documents → single gzipped .jsonl
    // file (distributed parts, serial byte concat — same design as the CSV
    // exact-path export) → schema'd read back. The oracle is the identity:
    // a lossless round-trip must hash-match the raw table, nulls, unicode
    // and all.
    (s, d) => {
      val docs = t(s, d, "documents")
      val tmp = graft.sources.Scratch.dir("graft-x24")
        .toString + "/docs.jsonl.gz"
      graft.sources.JsonL.writeSingleFile(docs, tmp, gzip = true)
      graft.sources.JsonL.read(s, tmp, docs.schema).orderBy("doc_id")
    },
    Some("SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"))

  private val x25 = DeclaredQuery("x25_deterministic_shuffle",
    // Reproducible training order (Sampling.deterministicShuffle): total
    // ORDER BY sha256(doc_id:salt) — identical across runs, partitionings
    // and engines; the driver's hash compares rows IN RESULT ORDER, so the
    // oracle pins the permutation itself, not just the row set.
    (s, d) => graft.operators.Sampling
      .deterministicShuffle(t(s, d, "documents"), "doc_id", "ep1")
      .select("doc_id"),
    Some("SELECT doc_id FROM documents ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':ep1'), doc_id"))

  private val x26 = DeclaredQuery("x26_pca_project",
    // Distributed PCA (Pca.fit/project): covariance via a D² pair explode
    // whose two-phase aggregation shuffles D² keys regardless of corpus
    // size; driver-side Jacobi eigen-decomposition (the model, like IVF/PQ
    // codebooks); map-only projection. Rows-only by declaration —
    // eigenvectors of a data covariance have no SQL oracle; ground truth is
    // PcaSpec (eigen equation, orthonormality, planted-direction recovery,
    // JVM projection parity). Declared output is SCALAR-ONLY — the driver's
    // checker sorts/hashes column values, and an array column is unhashable
    // to it, so the projection is exploded to (vec_id, component, value)
    // rows with the value squared (sign-free: Jacobi eigenvectors are
    // determined only up to ±, so ±component flips must hash identically)
    // and rounded to 2 decimals, under a total ORDER BY.
    (s, d) => {
      val emb = t(s, d, "embeddings")
      val model = graft.operators.Pca.fit(emb, "embedding", dim = 64, k = 8)
      graft.operators.Pca.project(emb, "embedding", model)
        .select(col("vec_id"), posexplode(col("pca")).as(Seq("component", "v")))
        .select(col("vec_id"), col("component"),
          (floor(col("v") * col("v") * 100 + 0.5) / 100).as("sq2"))
        .orderBy("vec_id", "component")
    },
    None)

  private val x10d = DeclaredQuery("x10d_ingest_pipeline",
    // Composed flagship v4 over the round-6 operators, ONE lazy plan:
    // incremental prefix dedup of the new half against the kept corpus
    // (x20) → linear-classifier quality gate (x21) → bigram-fluency filter
    // with corpus stats computed over the SURVIVORS (x22) → deterministic
    // epoch shuffle for reproducible output order (x25). Full composed
    // DuckDB oracle, including the permutation (the driver hashes rows in
    // result order). 131 docs pass the classifier, the fluency threshold
    // then genuinely splits them.
    (s, d) => {
      import graft.functions.{TextAnalysis, Scoring}
      val docs = t(s, d, "documents")
      val deduped = graft.operators.Dedup.dedupeAgainst(
        docs.where(col("doc_id") >= 250), docs.where(col("doc_id") < 250),
        df => substring(df("text"), 1, 80))
      val feats = deduped.select(col("doc_id"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("double").as("n_tokens_f"),
        (size(array_distinct(TextAnalysis.tokens(col("text")))).cast("double") /
          TextAnalysis.tokenCount(col("text")).cast("double")).as("distinct_ratio"))
      val kept = Scoring.applyLinearModel(feats,
          Seq("n_tokens_f" -> 0.08, "distinct_ratio" -> 4.0), bias = -6.0)
        .where(col("keep"))
      val fluency = graft.operators.Relevance.bigramAssociation(kept, "doc_id", "text")
      val out = kept.join(fluency, "doc_id")
        .where(col("bigram_assoc") >= 0.035)
        .select(col("doc_id"), round2(col("margin")).as("margin"),
          col("n_bigrams"), col("bigram_assoc"))
      graft.operators.Sampling.deterministicShuffle(out, "doc_id", "ep1")
    },
    Some("""WITH dedup AS (
  SELECT * FROM documents n WHERE doc_id >= 250 AND NOT EXISTS (
    SELECT 1 FROM documents s WHERE s.doc_id < 250 AND substr(s.text, 1, 80) = substr(n.text, 1, 80))),
f AS (SELECT doc_id, text,
  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)) AS DOUBLE) AS nt,
  CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0))) AS DOUBLE) AS nd
FROM dedup),
kept AS (SELECT doc_id, text, -6.0 + nt * 0.08 + (nd / nt) * 4.0 AS margin FROM f
         WHERE -6.0 + nt * 0.08 + (nd / nt) * 4.0 > 0.0),
tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM kept),
bi AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true) FROM tk),
c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
fl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(c2) AS DOUBLE) / CAST(SUM(c1) AS DOUBLE) AS bigram_assoc
FROM bi JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id)
SELECT k.doc_id, FLOOR(k.margin * 100 + 0.5) / 100 AS margin, fl.n_bigrams, fl.bigram_assoc
FROM kept k JOIN fl USING (doc_id)
WHERE fl.bigram_assoc >= 0.035
ORDER BY sha256(CAST(k.doc_id AS VARCHAR) || ':ep1'), k.doc_id"""))

  private val x22b = DeclaredQuery("x22b_bigram_assoc_against",
    // Persisted-LM filtering shape (Relevance.bigramAssociationAgainst):
    // the new half scored against the KEPT half's bigram statistics —
    // unseen bigrams count 0 in the numerator, unseen prefixes 0 in the
    // denominator, all-unseen docs score NULL. Log-free like x22;
    // bit-identical cross-engine.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Relevance.bigramAssociationAgainst(
          docs.where(col("doc_id") >= 250), "doc_id", "text",
          docs.where(col("doc_id") < 250), "text")
        .orderBy("doc_id")
    },
    Some("""WITH tkN AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks
  FROM documents WHERE doc_id >= 250),
biN AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)), i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true) FROM tkN),
tkR AS (SELECT list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks
  FROM documents WHERE doc_id < 250),
biR AS (SELECT unnest(list_transform(range(1, len(toks)), i -> {'w1': toks[i], 'w2': toks[i+1]}), recursive := true) FROM tkR),
r2 AS (SELECT w1, w2, COUNT(*) AS cnt2 FROM biR GROUP BY 1, 2),
r1 AS (SELECT w1, COUNT(*) AS cnt1 FROM biR GROUP BY 1)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
  CAST(SUM(COALESCE(cnt2, 0)) AS DOUBLE) / CAST(NULLIF(SUM(COALESCE(cnt1, 0)), 0) AS DOUBLE) AS ref_assoc
FROM biN LEFT JOIN r2 USING (w1, w2) LEFT JOIN r1 USING (w1)
GROUP BY doc_id ORDER BY doc_id"""))

  private val x27 = DeclaredQuery("x27_nfc_normalize",
    // Unicode NFC canonical composition (graft_nfc, JDK Normalizer) — the
    // standard first cleaning step: decomposed and precomposed forms must
    // dedup/shingle as one document. Oracled against DuckDB's
    // nfc_normalize: the two engines' normalizers must agree byte-for-byte
    // (the synthetic corpus is ASCII-already-NFC — identity is part of the
    // contract; non-ASCII forms are pinned in NativeTextSpec).
    (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
          native("graft_nfc", col("text")).as("text_nfc"),
          (col("text") === native("graft_nfc", col("text"))).as("already_nfc"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, nfc_normalize(text) AS text_nfc,
  text = nfc_normalize(text) AS already_nfc
FROM documents ORDER BY doc_id"""))

  private val x27b = DeclaredQuery("x27b_compression_ratio",
    // Gopher/RefinedWeb-style compression-ratio quality signal
    // (graft_deflate_len): repetitive boilerplate deflates far better than
    // natural prose. No SQL oracle (DuckDB exposes no per-row compressor) —
    // rows-only; NativeTextSpec pins byte-exactness against java.util.zip.
    (s, d) => {
      t(s, d, "documents").select(col("doc_id"),
          native("graft_deflate_len", col("text"), lit(6)).as("deflate_len"),
          round2(native("graft_deflate_len", col("text"), lit(6)).cast("double") /
            nullif(octet_length(col("text")), lit(0)).cast("double")).as("ratio"))
        .orderBy("doc_id")
    },
    None)

  private val x28 = DeclaredQuery("x28_bpe_tokens",
    // Real BPE tokenizer (Bpe.train/tokenCount): word-frequency counting is
    // one distributed word-count; merge learning runs on the word-TYPE
    // histogram (driver, like every model artifact); application is the
    // native graft_bpe_tokens with the merge table as a foldable literal.
    // Rows-only — greedy merge application has no SQL oracle; ground truth
    // is BpeSpec (canonical-fixture merges, native ≡ driver reference,
    // partition-invariant training).
    (s, d) => {
      val docs = t(s, d, "documents")
      val model = graft.operators.Bpe.train(docs, "text", numMerges = 200)
      graft.operators.Bpe.tokenCount(docs, "text", model)
        .select("doc_id", "n_bpe_tokens")
        .orderBy("doc_id")
    },
    None)

  private val x6d = DeclaredQuery("x06d_split_assign",
    // deterministic train/val/test assignment (Sampling.splitAssign): labels
    // keyed on sha256(doc_id) so a rebuild never migrates a doc across the
    // train/test boundary. Weights 0.75/0.125/0.125 — cumulative boundaries
    // 0.75 and 0.875 are EXACT binary doubles, so the oracle's literals are
    // the same values Scala's scanLeft computes (0.8+0.1 would differ in the
    // last ulp between the spelled 0.9 and the computed sum).
    (s, d) => graft.operators.Sampling
      .splitAssign(t(s, d, "documents"), "doc_id",
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .select("doc_id", "split")
      .orderBy("doc_id"),
    Some("""WITH u AS (
  SELECT doc_id,
    CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS h
  FROM documents)
SELECT doc_id,
  CASE WHEN h < 0.75 THEN 'train' WHEN h < 0.875 THEN 'val' ELSE 'test' END AS split
FROM u ORDER BY doc_id"""))

  private val x35 = DeclaredQuery("x35_dup_spans",
    // Exact duplicated-substring spans (SubstringDedup.duplicatedSpans —
    // Lee et al. ACL'22 re-expressed relationally: k-gram postings keyed by
    // xxhash64, map-side-partial groupBy duplicate-gram set + left-semi
    // join, gaps-and-islands merge). The
    // oracle replays the same definition over the LITERAL gram strings —
    // Spark groups by the 64-bit gram hash, DuckDB by the gram text, so a
    // hash collision or tokenization divergence hash-fails the gate (the
    // x04f partition-identity trick).
    (s, d) => graft.operators.SubstringDedup
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      .duplicatedSpans(spread(t(s, d, "documents")), "doc_id", "text", k = 5)
      .orderBy("doc_id", "span_start"),
    Some("""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS tk FROM documents),
pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, array_to_string(tk[i:i+4], ' ') AS g
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks WHERE len(tk) >= 5)),
d AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, p FROM pos JOIN d USING (g)),
w AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 5 THEN 0 ELSE 1 END AS brk FROM hits),
isl AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM w)
SELECT doc_id, MIN(p) AS span_start, MAX(p) + 5 AS span_end, COUNT(*) AS n_windows
FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start"""))

  private val x35b = DeclaredQuery("x35b_dup_coverage",
    // Duplicated-token coverage per document (SubstringDedup
    // .duplicateCoverage) — the corpus-sizing statistic and the natural
    // `dup_fraction > τ` filter input. Every document appears (zeros
    // included); spans are disjoint so the sum never double-counts.
    (s, d) => graft.operators.SubstringDedup
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      .duplicateCoverage(spread(t(s, d, "documents")), "doc_id", "text", k = 5)
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        round2(col("dup_fraction")).as("dup_fraction"))
      .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS tk FROM documents),
pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, array_to_string(tk[i:i+4], ' ') AS g
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks WHERE len(tk) >= 5)),
d AS (SELECT g FROM pos GROUP BY g HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, p FROM pos JOIN d USING (g)),
w AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 5 THEN 0 ELSE 1 END AS brk FROM hits),
isl AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM w),
spans AS (SELECT doc_id, MIN(p) AS s, MAX(p) + 5 AS e FROM isl GROUP BY doc_id, island),
agg AS (SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS dup_tokens FROM spans GROUP BY doc_id),
nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks)
SELECT nt.doc_id, n_tokens, COALESCE(dup_tokens, 0) AS dup_tokens,
  FLOOR((CASE WHEN n_tokens > 0 THEN COALESCE(dup_tokens, 0) * 1.0 / n_tokens ELSE 0.0 END) * 100 + 0.5) / 100 AS dup_fraction
FROM nt LEFT JOIN agg USING (doc_id) ORDER BY nt.doc_id"""))

  private val x36 = DeclaredQuery("x36_select_budget",
    // PREFIX-truncation token-budget fill (Selection.selectByBudget): rank
    // documents by (n_chars DESC, doc_id), keep while the running
    // whitespace-token total fits in 10k tokens. The oracle is the
    // windowed-SQL spelling of the same strict ranking prefix — the operator
    // computes it with a RangeScan instead of the single-partition global
    // window the SQL text implies.
    (s, d) => graft.operators.Selection.selectByBudget(
        t(s, d, "documents"), "doc_id", col("n_chars").cast("double"),
        size(split(col("text"), " ")).cast("long"), budget = 10000L)
      .orderBy("doc_id"),
    Some("""WITH ranked AS (
  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) OVER (
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM documents)
SELECT doc_id, n_tokens, cum_tokens FROM ranked WHERE cum_tokens <= 10000 ORDER BY doc_id"""))

  private val x36b = DeclaredQuery("x36b_select_skip_greedy",
    // SKIP-GREEDY token-budget fill (Selection.selectByBudgetSkipGreedy):
    // an overshooting document is skipped individually and the fill keeps
    // consuming down the ranking. The sequential recurrence IS ANSI-
    // expressible as an O(n)-deep recursive CTE — quadratic in DuckDB and
    // unusable at production scale (which is why the OPERATOR is the
    // Jacobi relaxation over a RangeScan), but exact and
    // cheap at the 500-doc gate, so the oracle walks the ranking one row
    // per recursion step and the hash match pins the full keep/skip/cum
    // semantics. SelectionSpec additionally pins the driver-side
    // sequential-walk differential on multi-partition data plus the
    // adversarial alternating-size fixture.
    (s, d) => graft.operators.Selection.selectByBudgetSkipGreedy(
        t(s, d, "documents"), "doc_id", col("n_chars").cast("double"),
        size(split(col("text"), " ")).cast("long"), budget = 10000L)
      .orderBy("doc_id"),
    Some("""WITH RECURSIVE ranked AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         ROW_NUMBER() OVER (ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
  FROM documents),
walk AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS cum, FALSE AS kept
  UNION ALL
  SELECT r.rn,
         CASE WHEN w.cum + r.n_tokens <= 10000
              THEN w.cum + r.n_tokens ELSE w.cum END,
         w.cum + r.n_tokens <= 10000
  FROM walk w JOIN ranked r ON r.rn = w.rn + 1)
SELECT r.doc_id, r.n_tokens, w.cum AS cum_tokens
FROM walk w JOIN ranked r USING (rn)
WHERE w.kept
ORDER BY doc_id"""))

  private val x36c = DeclaredQuery("x36c_quantile_cut",
    // Rank cut (Selection.keepAboveQuantile): keep the top 20% of documents
    // by n_chars. The threshold is Percentiles.exactGlobalValues' exact
    // interpolated quantile — DuckDB's QUANTILE_CONT uses the bit-identical
    // (1−d)·lo + d·hi interpolation (verified at the binary level), so the
    // membership comparison is exact with no rounding.
    (s, d) => graft.operators.Selection.keepAboveQuantile(
        t(s, d, "documents"), "n_chars", q = 0.8)
      .select("doc_id", "n_chars").orderBy("doc_id"),
    Some("""SELECT doc_id, n_chars FROM documents
WHERE CAST(n_chars AS DOUBLE) >= (SELECT QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.8) FROM documents)
ORDER BY doc_id"""))

  private val x10f = DeclaredQuery("x10f_incremental_pipeline",
    // Composed flagship v6 — the incremental-crawl audit over the round-12
    // compaction surface, ONE lazy chain: snapshot diff (x49's derived
    // old/new snapshots) selects the added+changed documents; each is
    // checked for a near-duplicate in the KEPT corpus via the persisted
    // near-dup index (x20e's artifact path — self-updates excluded, a
    // changed doc may match its own predecessor), and scored for k=5-gram
    // novelty against the kept corpus (x50). Output: one audit row per
    // to-be-ingested doc (status, dup_hit, exact novelty fraction) — the
    // decision table an incremental ingest run acts on. The oracle replays
    // the ENTIRE derivation: full-outer diff, brute-force 3-gram Jaccard
    // (x20b's spelling — the hash match re-proves LSH recall at 0.8), and
    // the exact novelty ratio.
    (s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.where(pmod(col("doc_id"), lit(11)) =!= 3)
        .select(col("doc_id"), col("text"), col("lang"))
      val newSnap = docs.where(pmod(col("doc_id"), lit(13)) =!= 5)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("lang"))
      val diff = graft.operators.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
      val todo = newSnap.join(
        diff.where(col("status").isin("added", "changed")).select("doc_id", "status"),
        "doc_id")
      val idx = graft.operators.NearDup.buildNearDupIndex(oldSnap, "doc_id", "text")
      val hits = graft.operators.NearDup
        .nearDuplicatesAgainstIndex(todo, idx, "doc_id", "text", minJaccard = 0.8)
        .where(col("new_id") =!= col("seen_id"))
        .select(col("new_id").as("doc_id")).distinct()
        .withColumn("__hit", lit(1))
      val nov = graft.operators.Contamination
        .noveltyFractions(todo, "doc_id", "text", oldSnap, "text", k = 5)
      todo.select("doc_id", "status")
        .join(hits, Seq("doc_id"), "left")
        .withColumn("dup_hit", coalesce(col("__hit"), lit(0))).drop("__hit")
        .join(nov.select("doc_id", "novelty"), "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH o AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 11 <> 3),
n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text, lang
      FROM documents WHERE doc_id % 13 <> 5),
st AS (SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN (o.text IS NOT DISTINCT FROM n.text) AND (o.lang IS NOT DISTINCT FROM n.lang)
         THEN 'unchanged'
       ELSE 'changed' END AS status
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
todo AS (SELECT n.doc_id, n.text, st.status FROM n JOIN st USING (doc_id)
         WHERE st.status IN ('added', 'changed')),
sh3o AS (SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM o)),
sh3n AS (SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM todo)),
ex3o AS (SELECT doc_id, unnest(s) AS g FROM sh3o),
ex3n AS (SELECT doc_id, unnest(s) AS g FROM sh3n),
isect AS (SELECT t.doc_id AS new_id, a.doc_id AS seen_id, COUNT(*) AS c
          FROM ex3n t JOIN ex3o a USING (g) WHERE t.doc_id <> a.doc_id GROUP BY 1, 2),
szo AS (SELECT doc_id, len(s) AS n FROM sh3o),
szn AS (SELECT doc_id, len(s) AS n FROM sh3n),
dup AS (SELECT DISTINCT new_id AS doc_id
        FROM isect JOIN szn sa ON sa.doc_id = new_id JOIN szo sb ON sb.doc_id = seen_id
        WHERE c * 1.0 / NULLIF(sa.n + sb.n - c, 0) >= 0.8),
sh5o AS (SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM o)),
sh5n AS (SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM todo)),
ref AS (SELECT DISTINCT g FROM (SELECT unnest(s) AS g FROM sh5o)),
ex5n AS (SELECT doc_id, unnest(s) AS g FROM sh5n),
nov AS (SELECT t.doc_id,
          CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / COUNT(*) AS novelty
        FROM ex5n t LEFT JOIN ref r ON t.g = r.g GROUP BY 1)
SELECT t.doc_id, t.status,
  CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS dup_hit,
  nov.novelty
FROM todo t LEFT JOIN dup d USING (doc_id) JOIN nov USING (doc_id)
ORDER BY t.doc_id"""))

  private val x10e = DeclaredQuery("x10e_mixture_pipeline",
    // Composed flagship v5 — the mixture-curriculum recipe over the round-12
    // selection surface, ONE lazy chain: exact quality-quartile assignment
    // (k−1 threshold fit + map-only fold) → per-bucket content-keyed
    // Bernoulli mixture rates (top quartile kept whole, lower quartiles
    // downsampled — map-only, no shuffle) → prefix-truncation token-budget
    // fill over the survivors (one range shuffle + partition-local window).
    // The oracle replays the full derivation: QUANTILE_CONT thresholds,
    // the same sha256 unit-interval draw, the same windowed running total.
    (s, d) => {
      val docs = t(s, d, "documents")
      val bucketed = graft.operators.Selection
        .assignQuantileBuckets(docs, "n_chars", k = 4)
      val rate = when(col("bucket") === 4, 1.0)
        .when(col("bucket") === 3, 0.5)
        .when(col("bucket") === 2, 0.25)
        .otherwise(0.1)
      val sampled = bucketed
        .where(graft.operators.Sampling.hashUnit(col("doc_id")) < rate)
      graft.operators.Selection.selectByBudget(
          sampled, "doc_id", col("n_chars").cast("double"),
          size(split(col("text"), " ")).cast("long"), budget = 8000L)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.25) AS t1,
              QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.5)  AS t2,
              QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.75) AS t3 FROM documents),
b AS (SELECT doc_id, n_chars, text,
        1 + (CASE WHEN CAST(n_chars AS DOUBLE) >= t1 THEN 1 ELSE 0 END)
          + (CASE WHEN CAST(n_chars AS DOUBLE) >= t2 THEN 1 ELSE 0 END)
          + (CASE WHEN CAST(n_chars AS DOUBLE) >= t3 THEN 1 ELSE 0 END) AS bucket
      FROM documents CROSS JOIN t),
s AS (SELECT doc_id, n_chars, text FROM b
      WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0
            < CASE bucket WHEN 4 THEN 1.0 WHEN 3 THEN 0.5 WHEN 2 THEN 0.25 ELSE 0.1 END),
ranked AS (SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) OVER (
               ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           FROM s)
SELECT doc_id, n_tokens, cum_tokens FROM ranked WHERE cum_tokens <= 8000 ORDER BY doc_id"""))

  private val x36g = DeclaredQuery("x36g_winsorize",
    // Quantile clipping (Profiling.winsorize): both columns' [p05, p95]
    // bounds from ONE melted range-sort scan, applied map-only. No
    // rounding: the fitted quantiles are bit-identical across engines
    // (QUANTILE_CONT interpolation pin) and LEAST/GREATEST are exact.
    (s, d) => graft.operators.Profiling.winsorize(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        Seq("l_quantity", "l_extendedprice"), lower = 0.05, upper = 0.95)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity_w").as("qty_w"), col("l_extendedprice_w").as("price_w"))
      .orderBy("l_orderkey", "l_linenumber", "qty_w", "price_w"),
    Some("""WITH f AS (
  SELECT QUANTILE_CONT(CAST(l_quantity AS DOUBLE), 0.05) AS loa,
         QUANTILE_CONT(CAST(l_quantity AS DOUBLE), 0.95) AS hia,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.05) AS lob,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.95) AS hib
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
  LEAST(GREATEST(CAST(l_quantity AS DOUBLE), loa), hia) AS qty_w,
  LEAST(GREATEST(CAST(l_extendedprice AS DOUBLE), lob), hib) AS price_w
FROM lineitem CROSS JOIN f ORDER BY l_orderkey, l_linenumber, qty_w, price_w"""))

  private val x36h = DeclaredQuery("x36h_robust_scale_by_group",
    // Per-group robust scaling (Profiling.robustScaleByGroup): the
    // per-language normalization step — (x − median_g)/IQR_g with each
    // group's own quantiles, fitted by the composite-range form (few hot
    // groups over a huge table is this operator's natural regime). Oracle
    // replays the grouped QUANTILE_CONT fit + join + apply.
    (s, d) => graft.operators.Profiling.robustScaleByGroup(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        (floor(col("l_extendedprice_rg") * 10000 + 0.5) / 10000).as("price_rg"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "price_rg"),
    Some("""WITH f AS (
  SELECT l_returnflag,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.5)  AS m,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.75) AS q3
  FROM lineitem GROUP BY l_returnflag)
SELECT l_orderkey, l_linenumber, l.l_returnflag,
  FLOOR((CAST(l_extendedprice AS DOUBLE) - m) / (q3 - q1) * 10000 + 0.5) / 10000 AS price_rg
FROM lineitem l JOIN f USING (l_returnflag)
ORDER BY l_orderkey, l_linenumber, l_returnflag, price_rg"""))

  private val x37 = DeclaredQuery("x37_line_scrub",
    // Line-level boilerplate removal (LineDedup.removeBoilerplateLines,
    // CCNet/RefinedWeb recipe): sentences appearing in >= 2 distinct docs
    // are deleted from every doc. The synthetic corpus contains NO
    // cross-document duplicate sentences, so this gate pins the identity
    // half of the contract — zero false removals and BYTE-EXACT
    // split→anti-join→reassemble round-tripping (order, separators, counts)
    // — while LineDedupSpec pins the removal half on planted boilerplate.
    (s, d) => graft.operators.LineDedup.removeBoilerplateLines(
        t(s, d, "documents"), "doc_id", "text", minDocFreq = 2, sep = ". ")
      .orderBy("doc_id"),
    Some("""WITH l AS (SELECT doc_id, i AS p, tk[i] AS line
           FROM (SELECT doc_id, string_split(text, '. ') AS tk,
                        unnest(range(1, len(tk) + 1)) AS i FROM documents)),
b AS (SELECT line FROM l GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
k AS (SELECT doc_id, p, line FROM l WHERE line NOT IN (SELECT line FROM b)),
r AS (SELECT doc_id, string_agg(line, '. ' ORDER BY p) AS text_clean,
             COUNT(*) AS kept FROM k GROUP BY doc_id),
n AS (SELECT doc_id, CAST(len(string_split(text, '. ')) AS BIGINT) AS n_lines FROM documents)
SELECT n.doc_id, COALESCE(text_clean, '') AS text_clean, n_lines,
       n_lines - COALESCE(kept, 0) AS n_removed
FROM n LEFT JOIN r USING (doc_id) ORDER BY doc_id"""))

  private val x36f = DeclaredQuery("x36f_select_budget_per_source",
    // Per-group budget fill (Selection.selectByBudgetPerGroup): every source
    // gets its own 800-token cap, filled best-first. The grouped window
    // distributes by source on its own (one hash shuffle + per-group
    // sorts) — the oracle is the identical PARTITION BY spelling.
    (s, d) => graft.operators.Selection.selectByBudgetPerGroup(
        t(s, d, "documents"), "source", "doc_id",
        col("n_chars").cast("double"),
        size(split(col("text"), " ")).cast("long"),
        defaultBudget = 800L)
      .orderBy("source", "doc_id"),
    Some("""WITH ranked AS (
  SELECT source, doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) OVER (
           PARTITION BY source
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM documents)
SELECT source, doc_id, n_tokens, cum_tokens FROM ranked
WHERE cum_tokens <= 800 ORDER BY source, doc_id"""))

  private val x36e = DeclaredQuery("x36e_quantile_buckets",
    // Exact global decile assignment (Selection.assignQuantileBuckets) —
    // the scalable sibling of NTILE(10) OVER (ORDER BY …), whose global
    // window is one partition's sort: k−1 exact interpolated thresholds
    // fitted by distributed range-sort, applied as a map-only fold.
    // Value-split semantics (ties share a bucket), so the oracle is the
    // same QUANTILE_CONT threshold fold, not NTILE.
    (s, d) => graft.operators.Selection.assignQuantileBuckets(
        t(s, d, "documents"), "n_chars", k = 10)
      .select("doc_id", "n_chars", "bucket").orderBy("doc_id"),
    Some("WITH t AS (SELECT "
      + (1 to 9).map(i =>
          s"QUANTILE_CONT(CAST(n_chars AS DOUBLE), ${i / 10.0}) AS t$i")
        .mkString(", ")
      + " FROM documents)\nSELECT doc_id, n_chars, CAST(1 + "
      + (1 to 9).map(i =>
          s"(CASE WHEN CAST(n_chars AS DOUBLE) >= t$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      + " AS INT) AS bucket\nFROM documents CROSS JOIN t ORDER BY doc_id"))

  private val x36d = DeclaredQuery("x36d_robust_scale",
    // Robust scaling (Profiling.robustScale): (x − median)/IQR per column,
    // medians/IQRs for BOTH columns fitted in ONE melted composite
    // range-sort scan (Percentiles.exactGlobalValuesMulti). Both engines
    // compute the identical interpolation, so the 4-decimal floor is only
    // insurance against engine-version drift, not a semantic gap.
    (s, d) => {
      val scaled = graft.operators.Profiling.robustScale(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        Seq("l_quantity", "l_extendedprice"))
      scaled.select(col("l_orderkey"), col("l_linenumber"),
          (floor(col("l_quantity_r") * 10000 + 0.5) / 10000).as("qty_r"),
          (floor(col("l_extendedprice_r") * 10000 + 0.5) / 10000).as("price_r"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""WITH f AS (
  SELECT QUANTILE_CONT(CAST(l_quantity AS DOUBLE), 0.25) AS q1a,
         QUANTILE_CONT(CAST(l_quantity AS DOUBLE), 0.5)  AS ma,
         QUANTILE_CONT(CAST(l_quantity AS DOUBLE), 0.75) AS q3a,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.25) AS q1b,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.5)  AS mb,
         QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.75) AS q3b
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
  FLOOR((CAST(l_quantity AS DOUBLE) - ma) / (q3a - q1a) * 10000 + 0.5) / 10000 AS qty_r,
  FLOOR((CAST(l_extendedprice AS DOUBLE) - mb) / (q3b - q1b) * 10000 + 0.5) / 10000 AS price_r
FROM lineitem CROSS JOIN f ORDER BY l_orderkey, l_linenumber"""))

  private val x38 = DeclaredQuery("x38_top_trigram",
    // Gopher top-n-gram repetition signal at n=3 (Repetition.topNgramStats):
    // each document's most frequent word trigram and the character fraction
    // it accounts for. Same word-count shape as x04g one order up; the
    // sf0.01 corpus has 27 docs with a repeated trigram, so ranking and the
    // (count desc, gram asc) tie-break are genuinely exercised.
    (s, d) => graft.operators.Repetition
      .topNgramStats(t(s, d, "documents"), "doc_id", "text", 3)
      .select(col("doc_id"), col("top_ngram"), col("n_occurrences"),
        round2(col("top_ngram_char_frac")).as("top_ngram_char_frac"))
      .orderBy("doc_id"),
    Some("""WITH t AS (
  SELECT doc_id, length(text) AS tlen,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
g AS (SELECT doc_id, tlen,
    unnest(list_transform(range(1, len(toks) - 1),
      i -> array_to_string(toks[i:i+2], ' '))) AS gram
  FROM t WHERE len(toks) >= 3),
c AS (SELECT doc_id, tlen, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn FROM c)
SELECT doc_id, gram AS top_ngram, c AS n_occurrences,
  FLOOR(c * length(gram) * 1.0 / tlen * 100 + 0.5) / 100 AS top_ngram_char_frac
FROM r WHERE rn = 1 ORDER BY doc_id"""))

  private val x38b = DeclaredQuery("x38b_dup_ngram_coverage",
    // Gopher duplicated-n-gram character coverage (Repetition.dupNgramCoverage)
    // at n=3: fraction of each document's characters covered by at least one
    // occurrence of a trigram repeated within the document, overlaps counted
    // once (the union-over-token-positions convention). The spec pins n=5 on
    // planted fixtures; the gate runs n=3 because that's the order the
    // synthetic corpus actually duplicates (27 nonzero docs at sf0.01).
    (s, d) => graft.operators.Repetition
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      .dupNgramCoverage(spread(t(s, d, "documents")), "doc_id", "text", 3)
      .select(col("doc_id"), col("dup_chars"), col("total_chars"),
        round4(col("dup_ngram_char_frac")).as("dup_ngram_char_frac"))
      .orderBy("doc_id"),
    Some("""WITH t AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS tlen,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
u AS (SELECT doc_id, tlen, toks FROM t WHERE len(toks) >= 3),
g AS (SELECT doc_id,
    unnest(list_transform(range(1, len(toks) - 1),
      i -> struct_pack(pos := i, gram := array_to_string(toks[i:i+2], ' ')))) AS o
  FROM u),
oc AS (SELECT doc_id, o.pos AS pos, o.gram AS gram FROM g),
c AS (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, gram) AS c FROM oc),
ci AS (SELECT DISTINCT doc_id, i
  FROM (SELECT doc_id, unnest(range(pos, pos + 3)) AS i FROM c WHERE c > 1)),
d AS (SELECT ci.doc_id,
    CAST(SUM(length(u.toks[CAST(ci.i AS INT)])) AS BIGINT) AS dchars
  FROM ci JOIN u USING (doc_id) GROUP BY 1)
SELECT u.doc_id, COALESCE(d.dchars, 0) AS dup_chars, u.tlen AS total_chars,
  FLOOR(COALESCE(d.dchars, 0) * 1.0 / u.tlen * 10000 + 0.5) / 10000 AS dup_ngram_char_frac
FROM u LEFT JOIN d USING (doc_id) ORDER BY doc_id"""))

  private val x39 = DeclaredQuery("x39_distribution_drift",
    // Corpus drift monitoring (Profiling.distributionDrift): PSI of the
    // n_chars distribution, non-English docs vs the English reference, over
    // 10 equal-probability bins fitted on the reference's exact deciles.
    // The interpolated decile fit, the value-split bucket fold, the
    // proportion divisions, and the eps-clamped (Δp)·ln ratio all replicate
    // in DuckDB; ln ulps are absorbed by 4-decimal rounding (x32 precedent).
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Profiling.distributionDrift(
          docs.where(col("lang") === "en"), docs.where(col("lang") =!= "en"),
          "n_chars", k = 10)
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          round4(col("p_ref")).as("p_ref"), round4(col("p_cur")).as("p_cur"),
          round4(col("psi_term")).as("psi_term"))
        .orderBy("bucket")
    },
    Some("""WITH r0 AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL),
c0 AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL),
e AS (SELECT QUANTILE_CONT(v, 0.1) AS e1, QUANTILE_CONT(v, 0.2) AS e2,
             QUANTILE_CONT(v, 0.3) AS e3, QUANTILE_CONT(v, 0.4) AS e4,
             QUANTILE_CONT(v, 0.5) AS e5, QUANTILE_CONT(v, 0.6) AS e6,
             QUANTILE_CONT(v, 0.7) AS e7, QUANTILE_CONT(v, 0.8) AS e8,
             QUANTILE_CONT(v, 0.9) AS e9 FROM r0),
rb AS (SELECT 1 + CAST(v >= e1 AS INT) + CAST(v >= e2 AS INT)
         + CAST(v >= e3 AS INT) + CAST(v >= e4 AS INT) + CAST(v >= e5 AS INT)
         + CAST(v >= e6 AS INT) + CAST(v >= e7 AS INT) + CAST(v >= e8 AS INT)
         + CAST(v >= e9 AS INT) AS bucket FROM r0 CROSS JOIN e),
cb AS (SELECT 1 + CAST(v >= e1 AS INT) + CAST(v >= e2 AS INT)
         + CAST(v >= e3 AS INT) + CAST(v >= e4 AS INT) + CAST(v >= e5 AS INT)
         + CAST(v >= e6 AS INT) + CAST(v >= e7 AS INT) + CAST(v >= e8 AS INT)
         + CAST(v >= e9 AS INT) AS bucket FROM c0 CROSS JOIN e),
rc AS (SELECT bucket, COUNT(*) AS n_ref FROM rb GROUP BY 1),
cc AS (SELECT bucket, COUNT(*) AS n_cur FROM cb GROUP BY 1),
b AS (SELECT CAST(i AS INT) AS bucket FROM range(1, 11) t(i)),
j AS (SELECT b.bucket, COALESCE(rc.n_ref, 0) AS n_ref,
             COALESCE(cc.n_cur, 0) AS n_cur
      FROM b LEFT JOIN rc USING (bucket) LEFT JOIN cc USING (bucket)),
p AS (SELECT *, n_ref * 1.0 / SUM(n_ref) OVER () AS p_ref,
             n_cur * 1.0 / SUM(n_cur) OVER () AS p_cur FROM j)
SELECT bucket, n_ref, n_cur,
  FLOOR(p_ref * 10000 + 0.5) / 10000 AS p_ref,
  FLOOR(p_cur * 10000 + 0.5) / 10000 AS p_cur,
  FLOOR((GREATEST(p_cur, 1e-6) - GREATEST(p_ref, 1e-6))
    * LN(GREATEST(p_cur, 1e-6) / GREATEST(p_ref, 1e-6)) * 10000 + 0.5) / 10000 AS psi_term
FROM p ORDER BY bucket"""))

  private val x40 = DeclaredQuery("x40_temperature_mixture",
    // Temperature-flattened language mixture (Sampling.temperatureMixture,
    // α=0.5, target 50%): rates ∝ √n_g boost low-resource languages. Every
    // arithmetic step is IEEE-exact cross-engine (sqrt is correctly rounded;
    // the Σ√n fold order is pinned groups-ASC on both sides via DuckDB's
    // ordered list_reduce), so the kept SET matches bit-for-bit — the same
    // sha256-keyed Bernoulli contract as x06b.
    (s, d) => graft.operators.Sampling
      .temperatureMixture(t(s, d, "documents"), "lang", "doc_id",
        alpha = 0.5, targetFrac = 0.5)
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""WITH n AS (SELECT lang, COUNT(*) AS n FROM documents WHERE lang IS NOT NULL GROUP BY 1),
s AS (SELECT list_reduce(list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang), (a, b) -> a + b) AS s,
             CAST(SUM(n) AS BIGINT) AS total FROM n),
r AS (SELECT lang, LEAST(1.0, 0.5 * total * sqrt(CAST(n AS DOUBLE)) / s / n) AS rate
      FROM n CROSS JOIN s)
SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
WHERE CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 < rate
ORDER BY doc_id"""))

  private val x39b = DeclaredQuery("x39b_categorical_drift",
    // Language-MIX drift (Profiling.categoricalDrift): PSI over the lang
    // column between the even- and odd-doc_id halves of the corpus — one
    // bin per language, full-outer value union, same eps-clamped terms as
    // x39. The halves share a mix, so the gate exercises near-zero terms;
    // the spec plants a one-sided value for the clamp path.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Profiling.categoricalDrift(
          docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
          "lang")
        .select(col("value"), col("n_ref"), col("n_cur"),
          round4(col("p_ref")).as("p_ref"), round4(col("p_cur")).as("p_cur"),
          round4(col("psi_term")).as("psi_term"))
        .orderBy("value")
    },
    Some("""WITH rc AS (SELECT lang AS value, COUNT(*) AS n_ref FROM documents
        WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1),
cc AS (SELECT lang AS value, COUNT(*) AS n_cur FROM documents
        WHERE doc_id % 2 = 1 AND lang IS NOT NULL GROUP BY 1),
j AS (SELECT COALESCE(rc.value, cc.value) AS value,
             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM rc FULL OUTER JOIN cc ON rc.value = cc.value),
p AS (SELECT *, n_ref * 1.0 / SUM(n_ref) OVER () AS p_ref,
             n_cur * 1.0 / SUM(n_cur) OVER () AS p_cur FROM j)
SELECT value, n_ref, n_cur,
  FLOOR(p_ref * 10000 + 0.5) / 10000 AS p_ref,
  FLOOR(p_cur * 10000 + 0.5) / 10000 AS p_cur,
  FLOOR((GREATEST(p_cur, 1e-6) - GREATEST(p_ref, 1e-6))
    * LN(GREATEST(p_cur, 1e-6) / GREATEST(p_ref, 1e-6)) * 10000 + 0.5) / 10000 AS psi_term
FROM p ORDER BY value"""))

  private val x41 = DeclaredQuery("x41_gopher_rules",
    // Gopher document-quality rule filter (Scrub.gopherSignals/gopherKeep):
    // the table-A1 screens as one codegen'd projection — token-count and
    // mean-token-length bounds, symbol ratio, bullet/ellipsis line shape,
    // alpha-token fraction, required-stopword hits — plus the keep verdict
    // at bounds the fixture actually splits on (minTokens lowered to 30 and
    // minStopwordHits to 1: the synthetic docs are shorter than web pages
    // and never carry two DISTINCT required stopwords — 382/500 carry one —
    // so the paper defaults would keep zero rows and exercise nothing; the
    // spec pins the default bounds on planted prose instead).
    (s, d) => {
      val sig = graft.functions.Scrub.gopherSignals(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"), sig.as("__s"))
        .select(col("doc_id"),
          col("__s.n_tokens").as("n_tokens"),
          round4(col("__s.mean_tok_len")).as("mean_tok_len"),
          round4(col("__s.symbol_word_ratio")).as("symbol_word_ratio"),
          round4(col("__s.alpha_token_frac")).as("alpha_token_frac"),
          col("__s.stopword_hits").as("stopword_hits"),
          graft.functions.Scrub.gopherKeep(col("__s"), minTokens = 30,
              minStopwordHits = 1)
            .as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
s AS (SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
      / NULLIF(len(toks), 0) AS mean_tok_len,
    CASE WHEN len(toks) > 0 THEN
      ((length(text) - length(replace(text, '#', ''))) * 1.0
       + (length(text) - length(replace(text, '…', '')))
       + (length(text) - length(replace(text, '...', ''))) / 3) / len(toks)
      ELSE 0.0 END AS symbol_word_ratio,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks)
      ELSE 0.0 END AS alpha_token_frac,
    CAST(list_contains(list_transform(toks, x -> lower(x)), 'the') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'be') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'to') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'of') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'and') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'that') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'have') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'with') AS INT)
      AS stopword_hits
  FROM t)
SELECT doc_id, n_tokens,
  FLOOR(mean_tok_len * 10000 + 0.5) / 10000 AS mean_tok_len,
  FLOOR(symbol_word_ratio * 10000 + 0.5) / 10000 AS symbol_word_ratio,
  FLOOR(alpha_token_frac * 10000 + 0.5) / 10000 AS alpha_token_frac,
  stopword_hits,
  COALESCE(n_tokens BETWEEN 30 AND 100000
    AND mean_tok_len BETWEEN 3.0 AND 10.0
    AND symbol_word_ratio <= 0.1
    AND alpha_token_frac >= 0.8
    AND stopword_hits >= 1, FALSE) AS keep
FROM s ORDER BY doc_id"""))

  private val x42 = DeclaredQuery("x42_importance_weights",
    // DSIR importance weighting (ImportanceWeights.importanceWeights):
    // explicit add-one unigram ratios fitted on target = English docs vs
    // raw = the whole corpus, every doc scored by Σ ln(p̂_t/p̂_r) over its
    // tokens. The smoothed-probability quotient is mirrored op-for-op in
    // DuckDB; the per-doc sum/mean of lns is rounded to 4 decimals on both
    // sides (fold order and libm ulps — the x32 precedent). raw ⊇ every
    // scored doc, so the gate never hits the OOV path (ImportanceSpec pins
    // it on planted fixtures).
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.ImportanceWeights
        .importanceWeights(docs, "doc_id", "text",
          docs.where(col("lang") === "en"), docs)
        .select(col("doc_id"), col("n_tokens"),
          round4(col("log_weight")).as("log_weight4"),
          round4(col("mean_log_ratio")).as("mean_log_ratio4"))
        .orderBy("doc_id")
    },
    Some("""WITH tok AS (
  SELECT doc_id, lang, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS ts
  FROM documents),
tc AS (SELECT t AS feature, COUNT(*) AS c_t
       FROM (SELECT unnest(ts) AS t FROM tok WHERE lang = 'en') GROUP BY 1),
rc AS (SELECT t AS feature, COUNT(*) AS c_r
       FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY 1),
j AS (SELECT COALESCE(tc.feature, rc.feature) AS feature,
             COALESCE(c_t, 0) AS c_t, COALESCE(c_r, 0) AS c_r
      FROM tc FULL OUTER JOIN rc ON tc.feature = rc.feature),
tot AS (SELECT CAST(SUM(c_t) AS DOUBLE) AS n_t, CAST(SUM(c_r) AS DOUBLE) AS n_r,
               CAST(COUNT(*) AS DOUBLE) AS v FROM j),
r AS (SELECT feature,
        LN(((c_t + 1.0) / (n_t + v)) / ((c_r + 1.0) / (n_r + v))) AS lr
      FROM j CROSS JOIN tot),
dt AS (SELECT doc_id, unnest(ts) AS t FROM tok),
sc AS (SELECT dt.doc_id, r.lr FROM dt JOIN r ON dt.t = r.feature),
agg AS (SELECT doc_id, COUNT(*) AS n_tokens,
          FLOOR(SUM(lr) * 10000 + 0.5) / 10000 AS log_weight4,
          FLOOR(AVG(lr) * 10000 + 0.5) / 10000 AS mean_log_ratio4
        FROM sc GROUP BY 1)
SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens, a.log_weight4, a.mean_log_ratio4
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id"""))

  private val x42b = DeclaredQuery("x42b_gumbel_topk",
    // DSIR's selection rule (ImportanceWeights.gumbelTopK): resample 50
    // docs by importance weight + deterministic Gumbel noise (content-keyed
    // sha256 uniform — the x40 portability trick — through −ln(−ln u)).
    // The selection key is floor-rounded to 4 decimals BEFORE the top-k
    // rank on both sides, so the kept set survives libm/fold ulps in the
    // unrounded weights.
    (s, d) => {
      val docs = t(s, d, "documents")
      val scored = graft.operators.ImportanceWeights
        .importanceWeights(docs, "doc_id", "text",
          docs.where(col("lang") === "en"), docs)
      graft.operators.ImportanceWeights
        .gumbelTopK(scored, "doc_id", "log_weight", 50)
        .select("doc_id", "gumbel_key")
    },
    Some("""WITH tok AS (
  SELECT doc_id, lang, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS ts
  FROM documents),
tc AS (SELECT t AS feature, COUNT(*) AS c_t
       FROM (SELECT unnest(ts) AS t FROM tok WHERE lang = 'en') GROUP BY 1),
rc AS (SELECT t AS feature, COUNT(*) AS c_r
       FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY 1),
j AS (SELECT COALESCE(tc.feature, rc.feature) AS feature,
             COALESCE(c_t, 0) AS c_t, COALESCE(c_r, 0) AS c_r
      FROM tc FULL OUTER JOIN rc ON tc.feature = rc.feature),
tot AS (SELECT CAST(SUM(c_t) AS DOUBLE) AS n_t, CAST(SUM(c_r) AS DOUBLE) AS n_r,
               CAST(COUNT(*) AS DOUBLE) AS v FROM j),
r AS (SELECT feature,
        LN(((c_t + 1.0) / (n_t + v)) / ((c_r + 1.0) / (n_r + v))) AS lr
      FROM j CROSS JOIN tot),
dt AS (SELECT doc_id, unnest(ts) AS t FROM tok),
agg AS (SELECT dt.doc_id, SUM(r.lr) AS log_weight
        FROM dt JOIN r ON dt.t = r.feature GROUP BY 1),
keyed AS (SELECT doc_id,
    FLOOR((log_weight - LN(-LN(GREATEST(
      CAST(('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        / 4294967296.0, 1e-12)))) * 10000 + 0.5) / 10000 AS gumbel_key
  FROM agg)
SELECT doc_id, gumbel_key FROM keyed
ORDER BY gumbel_key DESC, doc_id LIMIT 50"""))

  private val x42c = DeclaredQuery("x42c_hashed_weights",
    // the DSIR paper's production shape (ImportanceWeights.hashedLogRatios):
    // features are xxhash64-mod-2^16 buckets over unigrams AND bigrams (the
    // paper's feature set), so the ratio model is at most 65 536 rows —
    // broadcastable at any corpus scale. xxhash64 has no DuckDB spelling,
    // so the gate is rows-only; ImportanceSpec pins the whole
    // n-gram→bucket→smooth→score path against a naive in-JVM recount.
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val docs = spread(t(s, d, "documents"))
      val b = 1 << 16
      val m = graft.operators.ImportanceWeights.hashedLogRatios(
        docs.where(col("lang") === "en"), docs, "text", b)
      graft.operators.ImportanceWeights
        .score(docs, "doc_id", "text", m)
        .select(col("doc_id"), col("n_tokens"),
          round4(col("log_weight")).as("log_weight4"))
        .orderBy("doc_id")
    },
    None)

  private val x43 = DeclaredQuery("x43_vocab_jsd",
    // mixture-design diagnostic (Relevance.vocabJsDivergence): pairwise
    // Jensen–Shannon divergence between per-language unigram distributions
    // — shared-term inner sum plus the closed-form ½ln2·(1−coverage)
    // correction, so disjoint-vocabulary pairs read exactly ln 2. Every
    // probability is an exact integer quotient; the cross-term sums round
    // to 4 decimals on both sides.
    (s, d) => graft.operators.Relevance
      .vocabJsDivergence(t(s, d, "documents"), "lang", "text")
      .select(col("group_a"), col("group_b"), col("n_shared_terms"),
        round4(col("cov_a")).as("cov_a4"), round4(col("cov_b")).as("cov_b4"),
        round4(col("jsd")).as("jsd4"))
      .orderBy("group_a", "group_b"),
    Some("""WITH tok AS (
  SELECT lang AS g, unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term
  FROM documents WHERE lang IS NOT NULL),
c AS (SELECT g, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
n AS (SELECT g, SUM(c) AS n FROM c GROUP BY 1),
dist AS (SELECT c.g, c.term, c.c / n.n AS p FROM c JOIN n USING (g)),
sh AS (SELECT a.g AS group_a, b.g AS group_b, COUNT(*) AS n_shared_terms,
        SUM(0.5 * a.p * LN(2.0 * a.p / (a.p + b.p))
          + 0.5 * b.p * LN(2.0 * b.p / (a.p + b.p))) AS inner_sum,
        SUM(a.p) AS cov_a, SUM(b.p) AS cov_b
      FROM dist a JOIN dist b ON a.term = b.term AND a.g < b.g
      GROUP BY 1, 2),
pairs AS (SELECT a.g AS group_a, b.g AS group_b FROM n a JOIN n b ON a.g < b.g)
SELECT p.group_a, p.group_b, COALESCE(n_shared_terms, 0) AS n_shared_terms,
  FLOOR(COALESCE(cov_a, 0) * 10000 + 0.5) / 10000 AS cov_a4,
  FLOOR(COALESCE(cov_b, 0) * 10000 + 0.5) / 10000 AS cov_b4,
  FLOOR((COALESCE(inner_sum, 0) + 0.5 * LN(2.0)
    * ((1.0 - COALESCE(cov_a, 0)) + (1.0 - COALESCE(cov_b, 0)))) * 10000 + 0.5) / 10000 AS jsd4
FROM pairs p LEFT JOIN sh USING (group_a, group_b) ORDER BY 1, 2"""))

  private val x44 = DeclaredQuery("x44_rank_fusion",
    // quality-signal ensemble (Selection.reciprocalRankFusion): three
    // incomparably-scaled signals (char count, token count, mean token
    // length) fused by reciprocal rank, k = 60. Ranks come from the
    // distributed range-partition recipe — never a single-partition global
    // window — and the fused score is a fixed fold of exact divisions, so
    // NOTHING here needs rounding: the oracle matches bit-for-bit.
    (s, d) => {
      val toks = graft.functions.TextAnalysis.tokenCount(col("text"))
      val docs = t(s, d, "documents").select(col("doc_id"),
        col("n_chars").cast("double").as("s_chars"),
        toks.cast("double").as("s_tokens"),
        (length(col("text")) / greatest(toks, lit(1))).as("s_mtl"))
      graft.operators.Selection
        .reciprocalRankFusion(docs, "doc_id", Seq("s_chars", "s_tokens", "s_mtl"))
        .orderBy("doc_id")
    },
    Some("""WITH s AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s_chars,
    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS DOUBLE) AS s_tokens,
    length(text) / GREATEST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)), 1) AS s_mtl
  FROM documents),
r AS (SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY s_chars DESC NULLS LAST, doc_id) AS rank_s_chars,
    ROW_NUMBER() OVER (ORDER BY s_tokens DESC NULLS LAST, doc_id) AS rank_s_tokens,
    ROW_NUMBER() OVER (ORDER BY s_mtl DESC NULLS LAST, doc_id) AS rank_s_mtl
  FROM s)
SELECT doc_id, rank_s_chars, rank_s_tokens, rank_s_mtl,
  1.0 / (60 + rank_s_chars) + 1.0 / (60 + rank_s_tokens) + 1.0 / (60 + rank_s_mtl) AS rrf
FROM r ORDER BY doc_id"""))

  private val x45 = DeclaredQuery("x45_filter_funnel",
    // curation-cascade attrition accounting (Profiling.filterFunnel): four
    // ordered screens evaluated as flag products in ONE corpus scan — per
    // stage, rows reaching it, passing it, and the marginal rate. The
    // naive spelling re-scans the corpus once per stage; this is the
    // observability primitive that replaces it. NULL predicates drop
    // (mirrored with COALESCE(...,0) flags); pass_rate is one exact
    // integer division, no rounding needed.
    (s, d) => graft.operators.Profiling.filterFunnel(t(s, d, "documents"), Seq(
        "min_chars" -> (col("n_chars") >= 100),
        "english" -> (col("lang") === "en"),
        "min_tokens" -> (graft.functions.TextAnalysis.tokenCount(col("text")) >= 30),
        "no_lorem" -> !lower(col("text")).contains("lorem ipsum")))
      .orderBy("stage"),
    Some("""WITH f AS (SELECT
    COALESCE(CAST(n_chars >= 100 AS INT), 0) AS f0,
    COALESCE(CAST(lang = 'en' AS INT), 0) AS f1,
    COALESCE(CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) >= 30 AS INT), 0) AS f2,
    COALESCE(CAST(NOT contains(lower(text), 'lorem ipsum') AS INT), 0) AS f3
  FROM documents),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(f0) AS BIGINT) AS p0,
             CAST(SUM(f0 * f1) AS BIGINT) AS p1,
             CAST(SUM(f0 * f1 * f2) AS BIGINT) AS p2,
             CAST(SUM(f0 * f1 * f2 * f3) AS BIGINT) AS p3 FROM f)
SELECT 1 AS stage, 'min_chars' AS filter, n AS n_in, p0 AS n_pass,
       n - p0 AS n_drop, CASE WHEN n = 0 THEN NULL ELSE p0 * 1.0 / n END AS pass_rate FROM a
UNION ALL
SELECT 2, 'english', p0, p1, p0 - p1, CASE WHEN p0 = 0 THEN NULL ELSE p1 * 1.0 / p0 END FROM a
UNION ALL
SELECT 3, 'min_tokens', p1, p2, p1 - p2, CASE WHEN p1 = 0 THEN NULL ELSE p2 * 1.0 / p1 END FROM a
UNION ALL
SELECT 4, 'no_lorem', p2, p3, p2 - p3, CASE WHEN p2 = 0 THEN NULL ELSE p3 * 1.0 / p2 END FROM a
ORDER BY stage"""))

  private val x46 = DeclaredQuery("x46_zipf_fit",
    // corpus-health Zipf fit (Relevance.zipfFit): OLS of ln(freq) on
    // ln(rank) over the top-500 terms via the built-in regression
    // aggregates — natural prose sits near slope −1. Word count → TakeOrdered
    // top-N (no global sort) → a ≤ 500-row ranking window. The regression
    // internals accumulate doubles in engine-specific order, so the three
    // fit statistics are rounded to 4 decimals on both sides.
    (s, d) => {
      val fit = graft.operators.Relevance.zipfFit(t(s, d, "documents"), "text", 500)
      fit.select(col("n_terms"),
        round4(col("slope")).as("slope4"),
        round4(col("intercept")).as("intercept4"),
        round4(col("r2")).as("r2_4"))
    },
    Some("""WITH tok AS (
  SELECT unnest(list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t))) AS term
  FROM documents),
c AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1 ORDER BY c DESC, term LIMIT 500),
r AS (SELECT LN(CAST(c AS DOUBLE)) AS lf,
             LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term) AS DOUBLE)) AS lr
      FROM c)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
  FLOOR(regr_slope(lf, lr) * 10000 + 0.5) / 10000 AS slope4,
  FLOOR(regr_intercept(lf, lr) * 10000 + 0.5) / 10000 AS intercept4,
  FLOOR(regr_r2(lf, lr) * 10000 + 0.5) / 10000 AS r2_4
FROM r"""))

  private val x47 = DeclaredQuery("x47_cms_estimates",
    // count-min-sketch point frequencies (HeavyHitters.cmsEstimates) for
    // the eight Gopher required stopwords over the corpus token stream —
    // the sketch answering "how prevalent are THESE terms" for keys chosen
    // after the scan, completing the sketch roster (HLL x31b, MG x31c).
    // The counter grid's hash placement has no SQL spelling → rows-only;
    // HeavyHittersSpec pins the over-count-only and eps·n bounds plus
    // partitioning-invariant determinism at a fixed seed.
    (s, d) => graft.operators.HeavyHitters
      .cmsTokenEstimates(t(s, d, "documents"), "text",
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
        eps = 1e-4)
      .orderBy("token"),
    None)

  private val x48 = DeclaredQuery("x48_keep_latest",
    // keep-latest compaction (Dedup.keepLatest): the current row per entity
    // — here each user's newest event, version order (ts, event_id). ONE
    // hash aggregate via max_by(struct(all), struct(version)): partial
    // aggregation keeps ≤ one candidate per key per partition map-side, so
    // the shuffle is key-bounded — the window spelling the ORACLE uses
    // (ROW_NUMBER ... DESC) would shuffle and sort every row's history.
    // The hash match proves the aggregate form loses nothing vs the window.
    (s, d) => graft.operators.Dedup.keepLatest(
        t(s, d, "events").select("event_id", "ts", "user_id", "event_type", "value"),
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"))
      .select("user_id", "event_id", "ts", "event_type", "value")
      .orderBy("user_id"),
    Some("""SELECT user_id, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1 ORDER BY user_id"""))

  private val x49 = DeclaredQuery("x49_snapshot_diff",
    // snapshot diff (Dedup.snapshotDiff): two crawl snapshots derived
    // deterministically from documents — old drops doc_id%11=3 (those ids
    // read `added`), new drops doc_id%13=5 (`removed`) and rewrites text
    // for doc_id%7=0 (`changed`); everything else `unchanged`. One
    // full-outer hash join on id + a null-safe compare projection; the
    // Spark side compares a struct(text, lang) with <=> (per-field
    // null-safe), the oracle spells the same conjunction with
    // IS NOT DISTINCT FROM.
    (s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.where(pmod(col("doc_id"), lit(11)) =!= 3)
        .select(col("doc_id"), col("text"), col("lang"))
      val newSnap = docs.where(pmod(col("doc_id"), lit(13)) =!= 5)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"),
          col("lang"))
      graft.operators.Dedup.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text", "lang"))
        .orderBy("doc_id")
    },
    Some("""WITH o AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 11 <> 3),
n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text, lang
      FROM documents WHERE doc_id % 13 <> 5)
SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN (o.text IS NOT DISTINCT FROM n.text) AND (o.lang IS NOT DISTINCT FROM n.lang)
         THEN 'unchanged'
       ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
ORDER BY doc_id"""))

  private val x50 = DeclaredQuery("x50_ngram_novelty",
    // per-doc n-gram novelty (Contamination.noveltyFractions): fraction of
    // each corpus doc's distinct 5-gram shingles absent from the x14
    // benchmark slice (doc_id%17=0) — the freshness/memorization-risk dual
    // of contamination overlap. Operator counts xxhash64 shingle hashes,
    // oracle counts string shingles (x02d injectivity argument, re-proved
    // by the hash match); novelty = one exact IEEE division of exact
    // integer counts, no rounding.
    (s, d) => {
      val docs = t(s, d, "documents")
      graft.operators.Contamination.noveltyFractions(
          docs.where(pmod(col("doc_id"), lit(17)) =!= 0), "doc_id", "text",
          docs.where(pmod(col("doc_id"), lit(17)) === 0), "text", k = 5)
        .orderBy("doc_id")
    },
    Some("""WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4], ' ')) END) AS s
  FROM (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS toks FROM documents)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
ref AS (SELECT DISTINCT g FROM ex WHERE doc_id % 17 = 0),
corp AS (SELECT doc_id, g FROM ex WHERE doc_id % 17 <> 0)
SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
  CAST(SUM(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / COUNT(*) AS novelty
FROM corp c LEFT JOIN ref r ON c.g = r.g
GROUP BY c.doc_id ORDER BY c.doc_id"""))

  private val x51 = DeclaredQuery("x51_topk_per_group",
    // top-k per group without ANY sort (Selection.topKPerGroup): each
    // user's 3 highest-value events via the native bounded-heap aggregate
    // graft_topk — partial state is a k-entry heap per (group, partition),
    // so map-side combine bounds the shuffle at groups × partitions × k
    // narrow rows. Spark's InferWindowGroupLimit bounds the ROW_NUMBER
    // window's shuffle too, but only after a full-width local sort of
    // every map partition; the heap form is an O(log k) fold, no sort.
    // The hash match proves the heap form returns exactly the window's
    // rows and order. (events.value is non-null in this data; the
    // operator's NULL-skip contract is pinned in TopKPerGroupSpec.)
    (s, d) => graft.operators.Selection.topKPerGroup(
        t(s, d, "events"), Seq("user_id"), "value", "event_id", k = 3)
      .orderBy("user_id", "rank"),
    Some("""SELECT user_id, CAST(rn AS INT) AS rank, value, event_id FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
  FROM events WHERE value IS NOT NULL) WHERE rn <= 3 ORDER BY user_id, rank"""))

  private val x51b = DeclaredQuery("x51b_topk_rows",
    // full-row top-k per group (Selection.topKPerGroupRows): each user's 3
    // highest-value events WITH their payload columns, one ObjectHash
    // aggregate buffering k whole rows per (group, partition) — no sort,
    // no join-back. The ROW_NUMBER oracle carries the same columns; the
    // hash match proves the full-row heap returns exactly the window's
    // rows, payloads included.
    (s, d) => graft.operators.Selection.topKPerGroupRows(
        t(s, d, "events").select("event_id", "ts", "user_id", "event_type", "value"),
        Seq("user_id"), Seq("value", "event_id"), k = 3)
      .orderBy("user_id", "rank"),
    Some("""SELECT user_id, CAST(rn AS INT) AS rank, event_id, ts, event_type, value FROM (
  SELECT user_id, event_id, ts, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id DESC) AS rn
  FROM events) WHERE rn <= 3 ORDER BY user_id, rank"""))

  private val x52 = DeclaredQuery("x52_unigram_tokens",
    // unigram-LM (SentencePiece) tokenization [Kudo ACL'18] end to end:
    // train on the corpus word-type histogram (ONE distributed word count
    // through the same native pre-tokenizer BPE uses, then driver-side
    // seed→EM→prune — the model is an artifact like the BPE merges), and
    // apply via the native Viterbi expression, map-only. Rows-only by
    // declaration: EM-fitted piece probabilities have no SQL spelling;
    // UnigramLmSpec pins the whole path (char retention + total
    // segmentation, EM likelihood monotonicity, native ≡ driver Viterbi
    // incl. unseen chars, bit-deterministic partitioning-invariant
    // training, vocab bound, artifact round-trip).
    (s, d) => {
      val docs = t(s, d, "documents")
      val m = graft.operators.UnigramLm.train(docs, "text", vocabSize = 400,
        emIters = 2, seedMaxPieceLen = 6, seedSize = 2000)
      graft.operators.UnigramLm.tokenCount(docs, "text", m)
        .select(col("doc_id"), col("n_unigram_tokens"))
        .orderBy("doc_id")
    },
    None)

  private val x53 = DeclaredQuery("x53_edit_distance_join",
    // Levenshtein similarity self-join (record linkage / entity
    // resolution) via the segment-pigeonhole candidate scheme (PassJoin
    // family): NO |n|² cross join — candidates come from an equi-join on
    // (length, segment-index, segment-text) keys over DISTINCT strings,
    // verified once per distinct pair with the early-exit
    // levenshtein(threshold) kernel. The entry emits the distinct-string
    // granularity with `n_id_pairs` multiplicities (the 100 TB shape —
    // part names repeat ~312× at sf0.1, so raw id pairs are quadratic in
    // the duplicate count: 5.5M rows of pure fan-out the cluster would
    // never materialize). The oracle IS the brute-force distinct-name
    // cross join, so the entry hash-pins BOTH the candidate scheme's
    // completeness and the exact expansion cardinality, on top of
    // FuzzyJoinSpec's randomized raw-pair brute-force differential.
    (s, d) => graft.operators.FuzzyJoin.editDistanceGroupedSelfPairs(
        t(s, d, "part"), "p_name", maxDist = 2)
      .select(col("str_a"), col("str_b"), col("dist").cast("int").as("dist"),
        col("n_id_pairs").cast("long").as("n_id_pairs"))
      .orderBy("str_a", "str_b"),
    Some("""WITH names AS (
  SELECT p_name, count(*) AS cnt FROM part GROUP BY p_name)
SELECT a.p_name AS str_a, b.p_name AS str_b,
  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
  CAST(a.cnt * b.cnt AS BIGINT) AS n_id_pairs
FROM names a JOIN names b
  ON a.p_name < b.p_name
 AND abs(length(a.p_name) - length(b.p_name)) <= 2
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY str_a, str_b"""))

  private val x54 = DeclaredQuery("x54_scalar_quant",
    // int8 scalar quantization of the embedding corpus (storage-tier
    // compression, 4× on the wire/disk): per-dim min/max fit in one
    // partial-agg-bounded pass (dim × partitions shuffle rows), then a
    // map-only codegen'd encode. Codes use the engine-portable
    // floor(+0.5) half-up rounding contract, so the per-label code SUMS
    // are exact integers and the hash pins the entire fit+encode
    // arithmetic bit-for-bit against DuckDB's list-lambda spelling — no
    // FP-average tolerance anywhere.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val p = graft.operators.ScalarQuantization.fit(e, "embedding")
      graft.operators.ScalarQuantization.quantize(e, "embedding", p)
        .groupBy("label")
        .agg(sum(expr(
          "aggregate(codes, CAST(0 AS BIGINT), (acc, c) -> acc + CAST(c AS BIGINT))"))
          .as("sum_codes"),
          count(lit(1)).as("n"))
        .orderBy("label")
    },
    Some("""WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
  FROM embeddings),
dims AS (
  SELECT dim, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
  FROM d GROUP BY dim),
p AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM dims)
SELECT label,
  CAST(SUM(list_sum(list_transform(list_zip(embedding, mins, maxs),
    t -> CAST(
      LEAST(127, GREATEST(-128,
        CAST(FLOOR(
          (CAST(t[1] AS DOUBLE) - t[2])
          * (CASE WHEN t[3] = t[2] THEN 0.0 ELSE 255.0 / (t[3] - t[2]) END)
          + 0.5) AS BIGINT) - 128)) AS BIGINT)))) AS BIGINT) AS sum_codes,
  COUNT(*) AS n
FROM embeddings, p
GROUP BY label ORDER BY label"""))

  private val x55 = DeclaredQuery("x55_hard_negatives",
    // contrastive-pair mining: label-0 vectors are the queries, their
    // nearest neighbor (rank 1, the presumed positive/near-dup) is
    // skipped, ranks 2..6 become hard negatives re-ranked 1..5. The
    // mining is a pure rank filter over the shared neighbor schema, so
    // the oracle is the x03 cosine spelling + a ROW_NUMBER window — the
    // hash pins both the bit-identical scores and the skip/re-rank
    // arithmetic. At scale the same post-pass rides ivfTopK instead of
    // the brute topKAll (spec-pinned schema compatibility).
    (s, d) => {
      val e = t(s, d, "embeddings")
      val neighbors = graft.operators.SimilaritySearch.topKAll(
        e, e.where(col("label") === 0), "vec_id", "embedding", "vec_id", k = 6)
      graft.operators.SimilaritySearch.hardNegatives(neighbors, skipTop = 1, k = 5)
        .select(col("query_id"), col("neg_id"), round2(col("score")).as("score"),
          col("neg_rank").cast("int").as("neg_rank"))
        .orderBy("query_id", "neg_rank")
    },
    Some("""WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE label = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neg_id,
    list_sum(list_transform(list_zip(e.embedding, qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
    / NULLIF(SQRT(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
           * SQRT(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS raw
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id),
ranked AS (
  SELECT query_id, neg_id, raw,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw DESC, neg_id) AS rn
  FROM scored)
SELECT query_id, neg_id, FLOOR(raw*100+0.5)/100 AS score,
  CAST(rn - 1 AS INTEGER) AS neg_rank
FROM ranked WHERE rn > 1 AND rn <= 6
ORDER BY query_id, neg_rank"""))

  private val x56 = DeclaredQuery("x56_weighted_sample_exact_k",
    // exact-size weight-proportional sample (A-ES exponential race,
    // -ln(u)/w keyed on sha256(doc_id:salt)): the oracle recomputes the
    // IDENTICAL race keys in DuckDB ('0x'||hex-prefix cast, same +0.5
    // offset, same divisor), so the hash pins the whole selection — the
    // only cross-engine freedom is sub-ulp libm ln drift, which only
    // matters at key ties that sha-derived doubles never produce. Plans
    // as TakeOrderedAndProject: no global sort at any corpus size.
    (s, d) => graft.operators.Sampling.weightedSample(
        t(s, d, "documents").select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), k = 100, salt = "s1")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
    -ln((('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':s1'), 1, 8))::BIGINT + 0.5)
        / 4294967296.0) / CAST(n_chars AS DOUBLE) AS aes
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
  ORDER BY aes, doc_id LIMIT 100)
ORDER BY doc_id"""))

  /** x57's DuckDB oracle: the x41 gopher-feature replay + a WITH RECURSIVE
    * replay of LogisticRegression.train's exact iterate (standardize →
    * loss+grad at the proposed point → accept/halve → tol stop), then the
    * 6-decimal coefficient pin and the same scoring fold. Engine-float
    * notes: per-ROW feature doubles are bit-identical (integer-derived or
    * single fixed-order IEEE ops); corpus-level SUMs differ in fold order
    * (Spark: per-partition partials in partition-id order; DuckDB: global)
    * by ~1e-15 relative per pass, which the coefficient rounding absorbs.
    * Bullet/ellipsis line-shape bounds are omitted from the y replay (the
    * x41 oracle precedent: they never bind on this corpus). */
  private val X57OracleSql = """WITH t AS (
  SELECT doc_id, lang, text,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
feat AS (
  SELECT doc_id, lang,
    CAST(len(toks) AS DOUBLE) AS f1,
    COALESCE(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
      / NULLIF(len(toks), 0), 0.0) AS f2,
    CASE WHEN len(toks) > 0 THEN
      ((length(text) - length(replace(text, '#', ''))) * 1.0
       + (length(text) - length(replace(text, '…', '')))
       + (length(text) - length(replace(text, '...', ''))) / 3) / len(toks)
      ELSE 0.0 END AS f3,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks)
      ELSE 0.0 END AS f4,
    CAST(CAST(list_contains(list_transform(toks, x -> lower(x)), 'the') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'be') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'to') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'of') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'and') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'that') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'have') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'with') AS INT)
      AS DOUBLE) AS f5
  FROM t),
lab AS (
  SELECT doc_id, lang, f1, f2, f3, f4, f5,
    CAST(COALESCE(f1 BETWEEN 20 AND 100000
      AND (CASE WHEN f1 > 0 THEN f2 END) BETWEEN 3.0 AND 10.0
      AND f3 <= 0.1 AND f4 >= 0.8 AND f5 >= 1, FALSE) AS DOUBLE) AS y
  FROM feat),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
    SUM(f1) / COUNT(*) AS mu1, SUM(f2) / COUNT(*) AS mu2,
    SUM(f3) / COUNT(*) AS mu3, SUM(f4) / COUNT(*) AS mu4,
    SUM(f5) / COUNT(*) AS mu5,
    CASE WHEN SUM(f1*f1)/COUNT(*) - (SUM(f1)/COUNT(*))*(SUM(f1)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f1*f1)/COUNT(*) - (SUM(f1)/COUNT(*))*(SUM(f1)/COUNT(*))) END AS sd1,
    CASE WHEN SUM(f2*f2)/COUNT(*) - (SUM(f2)/COUNT(*))*(SUM(f2)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f2*f2)/COUNT(*) - (SUM(f2)/COUNT(*))*(SUM(f2)/COUNT(*))) END AS sd2,
    CASE WHEN SUM(f3*f3)/COUNT(*) - (SUM(f3)/COUNT(*))*(SUM(f3)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f3*f3)/COUNT(*) - (SUM(f3)/COUNT(*))*(SUM(f3)/COUNT(*))) END AS sd3,
    CASE WHEN SUM(f4*f4)/COUNT(*) - (SUM(f4)/COUNT(*))*(SUM(f4)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f4*f4)/COUNT(*) - (SUM(f4)/COUNT(*))*(SUM(f4)/COUNT(*))) END AS sd4,
    CASE WHEN SUM(f5*f5)/COUNT(*) - (SUM(f5)/COUNT(*))*(SUM(f5)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f5*f5)/COUNT(*) - (SUM(f5)/COUNT(*))*(SUM(f5)/COUNT(*))) END AS sd5
  FROM lab),
gd AS (
  WITH RECURSIVE it AS (
    SELECT 0 AS step, FALSE AS done, CAST(1.0 AS DOUBLE) AS rate,
      (s0).l AS loss,
      (s0).g1 AS g1, (s0).g2 AS g2, (s0).g3 AS g3, (s0).g4 AS g4,
      (s0).g5 AS g5, (s0).gb AS gb,
      CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2,
      CAST(0.0 AS DOUBLE) AS w3, CAST(0.0 AS DOUBLE) AS w4,
      CAST(0.0 AS DOUBLE) AS w5, CAST(0.0 AS DOUBLE) AS b
    FROM (SELECT (
      SELECT {
        'l': SUM(GREATEST(0.0, 0.0) - y * 0.0 + LN(1.0 + EXP(-ABS(0.0)))) / MAX(st.nd),
        'g1': SUM((1.0/(1.0+EXP(0.0)) - y) * ((f1 - st.mu1)/st.sd1)) / MAX(st.nd),
        'g2': SUM((1.0/(1.0+EXP(0.0)) - y) * ((f2 - st.mu2)/st.sd2)) / MAX(st.nd),
        'g3': SUM((1.0/(1.0+EXP(0.0)) - y) * ((f3 - st.mu3)/st.sd3)) / MAX(st.nd),
        'g4': SUM((1.0/(1.0+EXP(0.0)) - y) * ((f4 - st.mu4)/st.sd4)) / MAX(st.nd),
        'g5': SUM((1.0/(1.0+EXP(0.0)) - y) * ((f5 - st.mu5)/st.sd5)) / MAX(st.nd),
        'gb': SUM(1.0/(1.0+EXP(0.0)) - y) / MAX(st.nd)
      } FROM lab CROSS JOIN stats st) AS s0) z0
    UNION ALL
    SELECT step + 1,
      CASE WHEN (s).l <= loss THEN loss - (s).l < 1e-7
           ELSE rate / 2 < 1e-12 END,
      CASE WHEN (s).l <= loss THEN rate ELSE rate / 2 END,
      CASE WHEN (s).l <= loss THEN (s).l ELSE loss END,
      CASE WHEN (s).l <= loss THEN (s).g1 ELSE g1 END,
      CASE WHEN (s).l <= loss THEN (s).g2 ELSE g2 END,
      CASE WHEN (s).l <= loss THEN (s).g3 ELSE g3 END,
      CASE WHEN (s).l <= loss THEN (s).g4 ELSE g4 END,
      CASE WHEN (s).l <= loss THEN (s).g5 ELSE g5 END,
      CASE WHEN (s).l <= loss THEN (s).gb ELSE gb END,
      CASE WHEN (s).l <= loss THEN w1 - rate * g1 ELSE w1 END,
      CASE WHEN (s).l <= loss THEN w2 - rate * g2 ELSE w2 END,
      CASE WHEN (s).l <= loss THEN w3 - rate * g3 ELSE w3 END,
      CASE WHEN (s).l <= loss THEN w4 - rate * g4 ELSE w4 END,
      CASE WHEN (s).l <= loss THEN w5 - rate * g5 ELSE w5 END,
      CASE WHEN (s).l <= loss THEN b - rate * gb ELSE b END
    FROM (
      SELECT it.*, (
        SELECT {
          'l': SUM(GREATEST(mm, 0.0) - y * mm + LN(1.0 + EXP(-ABS(mm)))) / MAX(nd2),
          'g1': SUM((1.0/(1.0+EXP(-mm)) - y) * z1) / MAX(nd2),
          'g2': SUM((1.0/(1.0+EXP(-mm)) - y) * z2) / MAX(nd2),
          'g3': SUM((1.0/(1.0+EXP(-mm)) - y) * z3) / MAX(nd2),
          'g4': SUM((1.0/(1.0+EXP(-mm)) - y) * z4) / MAX(nd2),
          'g5': SUM((1.0/(1.0+EXP(-mm)) - y) * z5) / MAX(nd2),
          'gb': SUM(1.0/(1.0+EXP(-mm)) - y) / MAX(nd2)
        } FROM (
          SELECT y, st.nd AS nd2,
            (f1 - st.mu1)/st.sd1 AS z1, (f2 - st.mu2)/st.sd2 AS z2,
            (f3 - st.mu3)/st.sd3 AS z3, (f4 - st.mu4)/st.sd4 AS z4,
            (f5 - st.mu5)/st.sd5 AS z5,
            ((((((it.b - it.rate * it.gb)
              + (it.w1 - it.rate * it.g1) * ((f1 - st.mu1)/st.sd1))
              + (it.w2 - it.rate * it.g2) * ((f2 - st.mu2)/st.sd2))
              + (it.w3 - it.rate * it.g3) * ((f3 - st.mu3)/st.sd3))
              + (it.w4 - it.rate * it.g4) * ((f4 - st.mu4)/st.sd4))
              + (it.w5 - it.rate * it.g5) * ((f5 - st.mu5)/st.sd5)) AS mm
          FROM lab CROSS JOIN stats st) q) AS s
      FROM it WHERE step < 20 AND NOT done) z
  )
  SELECT * FROM it ORDER BY step DESC LIMIT 1),
model AS (
  SELECT
    FLOOR(g.w1 / st.sd1 * 1000000 + 0.5) / 1000000 AS rw1,
    FLOOR(g.w2 / st.sd2 * 1000000 + 0.5) / 1000000 AS rw2,
    FLOOR(g.w3 / st.sd3 * 1000000 + 0.5) / 1000000 AS rw3,
    FLOOR(g.w4 / st.sd4 * 1000000 + 0.5) / 1000000 AS rw4,
    FLOOR(g.w5 / st.sd5 * 1000000 + 0.5) / 1000000 AS rw5,
    FLOOR((g.b - ((((g.w1 * st.mu1 / st.sd1 + g.w2 * st.mu2 / st.sd2)
      + g.w3 * st.mu3 / st.sd3) + g.w4 * st.mu4 / st.sd4)
      + g.w5 * st.mu5 / st.sd5)) * 1000000 + 0.5) / 1000000 AS rb
  FROM gd g CROSS JOIN stats st)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(y) AS BIGINT) AS n_rule_keep,
  CAST(SUM(CASE WHEN (((((m.rb + f1 * m.rw1) + f2 * m.rw2) + f3 * m.rw3)
    + f4 * m.rw4) + f5 * m.rw5) > 0.0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_model_keep
FROM lab CROSS JOIN model m
GROUP BY lang ORDER BY lang"""


  /** x74's DuckDB oracle: the x04b quality replay ranks the per-source
    * preference pairs (bestVsRest = FIRST_VALUE over the (q DESC, id)
    * window), the symmetrized-diff frame feeds the SAME recursive GD
    * iterate as [[X57OracleSql]] (15 steps), and the 6-decimal
    * coefficient pin makes every reward comparison bit-identical.
    * bias_ok uses the RAW replayed bias (the symmetry claim, a 1e-6
    * threshold both engines clear by ~10 orders of magnitude). */
  private val X74OracleSql = """WITH t AS (
  SELECT doc_id, source, text,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
fq AS (
  SELECT doc_id, source,
    CAST(len(toks) AS DOUBLE) AS f1,
    COALESCE(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
      / NULLIF(len(toks), 0), 0.0) AS f2,
    CASE WHEN len(toks) > 0 THEN
      ((length(text) - length(replace(text, '#', ''))) * 1.0
       + (length(text) - length(replace(text, '…', '')))
       + (length(text) - length(replace(text, '...', ''))) / 3) / len(toks)
      ELSE 0.0 END AS f3,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks)
      ELSE 0.0 END AS f4,
    CAST(CAST(list_contains(list_transform(toks, x -> lower(x)), 'the') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'be') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'to') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'of') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'and') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'that') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'have') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'with') AS INT)
      AS DOUBLE) AS f5,
    LEAST(GREATEST(
        LEAST(len(toks) / 20.0, 1.0) * 0.3
      + (1.0 - LEAST((CAST(length(text) - length(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')) AS DOUBLE)
            / NULLIF(length(text), 0)) * 4.0, 1.0)) * 0.3
      + (CASE WHEN (list_sum(list_transform(toks, x -> length(x))) * 1.0
                    / NULLIF(len(toks), 0)) BETWEEN 2.0 AND 12.0
              THEN 1.0 ELSE 0.3 END) * 0.2
      + LEAST((len(list_filter(toks, x -> list_contains(
          ['the','of','and','a','to','in','is','it','that','for','on','with',
           'as','was','at','by','an','be','this','are'], lower(x)))) * 1.0
            / NULLIF(len(toks), 0)) * 5.0, 1.0) * 0.2,
      0.0), 1.0) AS q
  FROM t),
rk AS (
  SELECT *, ROW_NUMBER() OVER w AS rk,
    FIRST_VALUE(doc_id) OVER w AS c_id, FIRST_VALUE(q) OVER w AS c_q
  FROM fq WINDOW w AS (PARTITION BY source ORDER BY q DESC, doc_id ASC)),
pairs AS (
  SELECT source, c_id AS chosen_id, doc_id AS rejected_id
  FROM rk WHERE rk > 1 AND c_q - q >= 0.02),
frame AS (
  SELECT cf.f1 - rf.f1 AS d1, cf.f2 - rf.f2 AS d2, cf.f3 - rf.f3 AS d3,
         cf.f4 - rf.f4 AS d4, cf.f5 - rf.f5 AS d5, CAST(1.0 AS DOUBLE) AS y
  FROM pairs p JOIN fq cf ON cf.doc_id = p.chosen_id
               JOIN fq rf ON rf.doc_id = p.rejected_id
  UNION ALL
  SELECT rf.f1 - cf.f1, rf.f2 - cf.f2, rf.f3 - cf.f3,
         rf.f4 - cf.f4, rf.f5 - cf.f5, CAST(0.0 AS DOUBLE)
  FROM pairs p JOIN fq cf ON cf.doc_id = p.chosen_id
               JOIN fq rf ON rf.doc_id = p.rejected_id),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
    SUM(d1) / COUNT(*) AS mu1, SUM(d2) / COUNT(*) AS mu2,
    SUM(d3) / COUNT(*) AS mu3, SUM(d4) / COUNT(*) AS mu4,
    SUM(d5) / COUNT(*) AS mu5,
    CASE WHEN SUM(d1*d1)/COUNT(*) - (SUM(d1)/COUNT(*))*(SUM(d1)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(d1*d1)/COUNT(*) - (SUM(d1)/COUNT(*))*(SUM(d1)/COUNT(*))) END AS sd1,
    CASE WHEN SUM(d2*d2)/COUNT(*) - (SUM(d2)/COUNT(*))*(SUM(d2)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(d2*d2)/COUNT(*) - (SUM(d2)/COUNT(*))*(SUM(d2)/COUNT(*))) END AS sd2,
    CASE WHEN SUM(d3*d3)/COUNT(*) - (SUM(d3)/COUNT(*))*(SUM(d3)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(d3*d3)/COUNT(*) - (SUM(d3)/COUNT(*))*(SUM(d3)/COUNT(*))) END AS sd3,
    CASE WHEN SUM(d4*d4)/COUNT(*) - (SUM(d4)/COUNT(*))*(SUM(d4)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(d4*d4)/COUNT(*) - (SUM(d4)/COUNT(*))*(SUM(d4)/COUNT(*))) END AS sd4,
    CASE WHEN SUM(d5*d5)/COUNT(*) - (SUM(d5)/COUNT(*))*(SUM(d5)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(d5*d5)/COUNT(*) - (SUM(d5)/COUNT(*))*(SUM(d5)/COUNT(*))) END AS sd5
  FROM frame),
gd AS (
  WITH RECURSIVE it AS (
    SELECT 0 AS step, FALSE AS done, CAST(1.0 AS DOUBLE) AS rate,
      (s0).l AS loss,
      (s0).g1 AS g1, (s0).g2 AS g2, (s0).g3 AS g3, (s0).g4 AS g4,
      (s0).g5 AS g5, (s0).gb AS gb,
      CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2,
      CAST(0.0 AS DOUBLE) AS w3, CAST(0.0 AS DOUBLE) AS w4,
      CAST(0.0 AS DOUBLE) AS w5, CAST(0.0 AS DOUBLE) AS b
    FROM (SELECT (
      SELECT {
        'l': SUM(GREATEST(0.0, 0.0) - y * 0.0 + LN(1.0 + EXP(-ABS(0.0)))) / MAX(st.nd),
        'g1': SUM((1.0/(1.0+EXP(0.0)) - y) * ((d1 - st.mu1)/st.sd1)) / MAX(st.nd),
        'g2': SUM((1.0/(1.0+EXP(0.0)) - y) * ((d2 - st.mu2)/st.sd2)) / MAX(st.nd),
        'g3': SUM((1.0/(1.0+EXP(0.0)) - y) * ((d3 - st.mu3)/st.sd3)) / MAX(st.nd),
        'g4': SUM((1.0/(1.0+EXP(0.0)) - y) * ((d4 - st.mu4)/st.sd4)) / MAX(st.nd),
        'g5': SUM((1.0/(1.0+EXP(0.0)) - y) * ((d5 - st.mu5)/st.sd5)) / MAX(st.nd),
        'gb': SUM(1.0/(1.0+EXP(0.0)) - y) / MAX(st.nd)
      } FROM frame CROSS JOIN stats st) AS s0) z0
    UNION ALL
    SELECT step + 1,
      CASE WHEN (s).l <= loss THEN loss - (s).l < 1e-7
           ELSE rate / 2 < 1e-12 END,
      CASE WHEN (s).l <= loss THEN rate ELSE rate / 2 END,
      CASE WHEN (s).l <= loss THEN (s).l ELSE loss END,
      CASE WHEN (s).l <= loss THEN (s).g1 ELSE g1 END,
      CASE WHEN (s).l <= loss THEN (s).g2 ELSE g2 END,
      CASE WHEN (s).l <= loss THEN (s).g3 ELSE g3 END,
      CASE WHEN (s).l <= loss THEN (s).g4 ELSE g4 END,
      CASE WHEN (s).l <= loss THEN (s).g5 ELSE g5 END,
      CASE WHEN (s).l <= loss THEN (s).gb ELSE gb END,
      CASE WHEN (s).l <= loss THEN w1 - rate * g1 ELSE w1 END,
      CASE WHEN (s).l <= loss THEN w2 - rate * g2 ELSE w2 END,
      CASE WHEN (s).l <= loss THEN w3 - rate * g3 ELSE w3 END,
      CASE WHEN (s).l <= loss THEN w4 - rate * g4 ELSE w4 END,
      CASE WHEN (s).l <= loss THEN w5 - rate * g5 ELSE w5 END,
      CASE WHEN (s).l <= loss THEN b - rate * gb ELSE b END
    FROM (
      SELECT it.*, (
        SELECT {
          'l': SUM(GREATEST(mm, 0.0) - y * mm + LN(1.0 + EXP(-ABS(mm)))) / MAX(nd2),
          'g1': SUM((1.0/(1.0+EXP(-mm)) - y) * z1) / MAX(nd2),
          'g2': SUM((1.0/(1.0+EXP(-mm)) - y) * z2) / MAX(nd2),
          'g3': SUM((1.0/(1.0+EXP(-mm)) - y) * z3) / MAX(nd2),
          'g4': SUM((1.0/(1.0+EXP(-mm)) - y) * z4) / MAX(nd2),
          'g5': SUM((1.0/(1.0+EXP(-mm)) - y) * z5) / MAX(nd2),
          'gb': SUM(1.0/(1.0+EXP(-mm)) - y) / MAX(nd2)
        } FROM (
          SELECT y, st.nd AS nd2,
            (d1 - st.mu1)/st.sd1 AS z1, (d2 - st.mu2)/st.sd2 AS z2,
            (d3 - st.mu3)/st.sd3 AS z3, (d4 - st.mu4)/st.sd4 AS z4,
            (d5 - st.mu5)/st.sd5 AS z5,
            ((((((it.b - it.rate * it.gb)
              + (it.w1 - it.rate * it.g1) * ((d1 - st.mu1)/st.sd1))
              + (it.w2 - it.rate * it.g2) * ((d2 - st.mu2)/st.sd2))
              + (it.w3 - it.rate * it.g3) * ((d3 - st.mu3)/st.sd3))
              + (it.w4 - it.rate * it.g4) * ((d4 - st.mu4)/st.sd4))
              + (it.w5 - it.rate * it.g5) * ((d5 - st.mu5)/st.sd5)) AS mm
          FROM frame CROSS JOIN stats st) q2) AS s
      FROM it WHERE step < 15 AND NOT done) z
  )
  SELECT * FROM it ORDER BY step DESC LIMIT 1),
model AS (
  SELECT g.b AS braw,
    FLOOR(g.w1 / st.sd1 * 1000000 + 0.5) / 1000000 AS rw1,
    FLOOR(g.w2 / st.sd2 * 1000000 + 0.5) / 1000000 AS rw2,
    FLOOR(g.w3 / st.sd3 * 1000000 + 0.5) / 1000000 AS rw3,
    FLOOR(g.w4 / st.sd4 * 1000000 + 0.5) / 1000000 AS rw4,
    FLOOR(g.w5 / st.sd5 * 1000000 + 0.5) / 1000000 AS rw5,
    FLOOR((g.b - ((((g.w1 * st.mu1 / st.sd1 + g.w2 * st.mu2 / st.sd2)
      + g.w3 * st.mu3 / st.sd3) + g.w4 * st.mu4 / st.sd4)
      + g.w5 * st.mu5 / st.sd5)) * 1000000 + 0.5) / 1000000 AS rb
  FROM gd g CROSS JOIN stats st),
rew AS (
  SELECT doc_id, (((((m.rb + f1 * m.rw1) + f2 * m.rw2) + f3 * m.rw3)
    + f4 * m.rw4) + f5 * m.rw5) AS r
  FROM fq CROSS JOIN model m),
evals AS (
  SELECT p.source, CASE WHEN rc.r > rr.r THEN 1.0 ELSE 0.0 END AS c
  FROM pairs p JOIN rew rc ON rc.doc_id = p.chosen_id
               JOIN rew rr ON rr.doc_id = p.rejected_id),
ov AS (SELECT SUM(c) / COUNT(*) AS o FROM evals)
SELECT e.source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  FLOOR(SUM(e.c) / COUNT(*) * 10000 + 0.5) / 10000 AS accuracy,
  (FLOOR(SUM(e.c) / COUNT(*) * 10000 + 0.5) / 10000 >= 0.5) AS beats_chance,
  FLOOR(ov.o * 10000 + 0.5) / 10000 AS overall_accuracy,
  (ov.o >= 0.85) AS overall_ok,
  (ABS(m.braw) < 1e-6) AS bias_ok
FROM evals e CROSS JOIN ov CROSS JOIN model m
GROUP BY e.source, ov.o, m.braw ORDER BY e.source"""

  /** x69's DuckDB oracle: the ENTIRE DoReMi loop as one WITH RECURSIVE
    * state machine. State per row: (ph, step, gdone, rate, loss, grad,
    * w, b) — the [[X57OracleSql]] GD iterate — plus the K-element EG
    * weight list `wl` and the per-domain loss lists (refl/lastl/exc).
    * `step = -1` is "init pending": with w = g = 0 the proposed-point
    * aggregate evaluates at the zero point, exactly trainWeighted's
    * pre-loop pass. `trans` (step ≥ 8 or converged) computes the
    * per-domain mean losses of the un-standardized model (the
    * domainLosses fold order: b − Σ wⱼμⱼ/σⱼ left-assoc, then margin
    * left-assoc over raw features) and applies the EG update
    * wᵢ ∝ wᵢ·exp(2·max(0, lastᵢ − refᵢ)) inline. The per-example weight
    * replays the Scala two-step division (wl[d] / (count_d / n)) — NOT
    * the algebraically-equal wl[d]·n/count_d, which differs in IEEE.
    * Phase 0 trains with weight 1.0 exactly (not the uniform ratio).
    * 6-decimal FLOOR pins on all four double columns absorb the
    * cross-engine fold divergence, the x57/x74 precedent. */
  private val X69OracleSql = """WITH t AS (
  SELECT doc_id, lang, text,
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
feat AS (
  SELECT doc_id, lang,
    CAST(len(toks) AS DOUBLE) AS f1,
    COALESCE(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
      / NULLIF(len(toks), 0), 0.0) AS f2,
    CASE WHEN len(toks) > 0 THEN
      ((length(text) - length(replace(text, '#', ''))) * 1.0
       + (length(text) - length(replace(text, '…', '')))
       + (length(text) - length(replace(text, '...', ''))) / 3) / len(toks)
      ELSE 0.0 END AS f3,
    CASE WHEN len(toks) > 0 THEN
      len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(toks)
      ELSE 0.0 END AS f4,
    CAST(CAST(list_contains(list_transform(toks, x -> lower(x)), 'the') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'be') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'to') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'of') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'and') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'that') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'have') AS INT)
      + CAST(list_contains(list_transform(toks, x -> lower(x)), 'with') AS INT)
      AS DOUBLE) AS f5
  FROM t),
lab AS (
  SELECT lang, f1, f2, f3, f4, f5,
    CAST(COALESCE(f1 BETWEEN 20 AND 100000
      AND (CASE WHEN f1 > 0 THEN f2 END) BETWEEN 3.0 AND 10.0
      AND f3 <= 0.1 AND f4 >= 0.8 AND f5 >= 1, FALSE) AS DOUBLE) AS y
  FROM feat),
stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
    SUM(f1) / COUNT(*) AS mu1, SUM(f2) / COUNT(*) AS mu2,
    SUM(f3) / COUNT(*) AS mu3, SUM(f4) / COUNT(*) AS mu4,
    SUM(f5) / COUNT(*) AS mu5,
    CASE WHEN SUM(f1*f1)/COUNT(*) - (SUM(f1)/COUNT(*))*(SUM(f1)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f1*f1)/COUNT(*) - (SUM(f1)/COUNT(*))*(SUM(f1)/COUNT(*))) END AS sd1,
    CASE WHEN SUM(f2*f2)/COUNT(*) - (SUM(f2)/COUNT(*))*(SUM(f2)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f2*f2)/COUNT(*) - (SUM(f2)/COUNT(*))*(SUM(f2)/COUNT(*))) END AS sd2,
    CASE WHEN SUM(f3*f3)/COUNT(*) - (SUM(f3)/COUNT(*))*(SUM(f3)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f3*f3)/COUNT(*) - (SUM(f3)/COUNT(*))*(SUM(f3)/COUNT(*))) END AS sd3,
    CASE WHEN SUM(f4*f4)/COUNT(*) - (SUM(f4)/COUNT(*))*(SUM(f4)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f4*f4)/COUNT(*) - (SUM(f4)/COUNT(*))*(SUM(f4)/COUNT(*))) END AS sd4,
    CASE WHEN SUM(f5*f5)/COUNT(*) - (SUM(f5)/COUNT(*))*(SUM(f5)/COUNT(*)) <= 1e-300
      THEN 1.0 ELSE SQRT(SUM(f5*f5)/COUNT(*) - (SUM(f5)/COUNT(*))*(SUM(f5)/COUNT(*))) END AS sd5
  FROM lab),
doms AS (
  SELECT list(lang ORDER BY lang) AS dl,
         list(cnt ORDER BY lang) AS cl,
         list(CAST(cnt AS DOUBLE) / CAST(nn AS DOUBLE) ORDER BY lang) AS shl,
         CAST(COUNT(*) AS BIGINT) AS kk
  FROM (SELECT lang, COUNT(*) AS cnt, SUM(COUNT(*)) OVER () AS nn
        FROM lab GROUP BY lang) g),
doremi AS (
  WITH RECURSIVE it AS (
    SELECT 0 AS ph, CAST(-1 AS INT) AS step, FALSE AS gdone,
      CAST(1.0 AS DOUBLE) AS rate, CAST(0.0 AS DOUBLE) AS loss,
      CAST(0.0 AS DOUBLE) AS g1, CAST(0.0 AS DOUBLE) AS g2,
      CAST(0.0 AS DOUBLE) AS g3, CAST(0.0 AS DOUBLE) AS g4,
      CAST(0.0 AS DOUBLE) AS g5, CAST(0.0 AS DOUBLE) AS gb,
      CAST(0.0 AS DOUBLE) AS w1, CAST(0.0 AS DOUBLE) AS w2,
      CAST(0.0 AS DOUBLE) AS w3, CAST(0.0 AS DOUBLE) AS w4,
      CAST(0.0 AS DOUBLE) AS w5, CAST(0.0 AS DOUBLE) AS b,
      list_transform(range(1, d.kk + 1), i -> 1.0 / d.kk) AS wl,
      CAST(NULL AS DOUBLE[]) AS refl,
      CAST(NULL AS DOUBLE[]) AS lastl,
      CAST(NULL AS DOUBLE[]) AS exc,
      FALSE AS fin
    FROM doms d
    UNION ALL
    SELECT
      CASE WHEN trans AND ph < 3 THEN ph + 1 ELSE ph END,
      CASE WHEN trans THEN -1 WHEN step = -1 THEN 0 ELSE step + 1 END,
      CASE WHEN trans OR step = -1 THEN FALSE
           WHEN (s).l <= loss THEN loss - (s).l < 1e-7
           ELSE rate / 2 < 1e-12 END,
      CASE WHEN trans THEN 1.0 WHEN step = -1 THEN rate
           WHEN (s).l <= loss THEN rate ELSE rate / 2 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).l
           WHEN (s).l <= loss THEN (s).l ELSE loss END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).g1
           WHEN (s).l <= loss THEN (s).g1 ELSE g1 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).g2
           WHEN (s).l <= loss THEN (s).g2 ELSE g2 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).g3
           WHEN (s).l <= loss THEN (s).g3 ELSE g3 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).g4
           WHEN (s).l <= loss THEN (s).g4 ELSE g4 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).g5
           WHEN (s).l <= loss THEN (s).g5 ELSE g5 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN (s).gb
           WHEN (s).l <= loss THEN (s).gb ELSE gb END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN w1
           WHEN (s).l <= loss THEN w1 - rate * g1 ELSE w1 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN w2
           WHEN (s).l <= loss THEN w2 - rate * g2 ELSE w2 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN w3
           WHEN (s).l <= loss THEN w3 - rate * g3 ELSE w3 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN w4
           WHEN (s).l <= loss THEN w4 - rate * g4 ELSE w4 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN w5
           WHEN (s).l <= loss THEN w5 - rate * g5 ELSE w5 END,
      CASE WHEN trans THEN 0.0 WHEN step = -1 THEN b
           WHEN (s).l <= loss THEN b - rate * gb ELSE b END,
      CASE WHEN trans AND ph >= 1 THEN
        list_transform(range(1, len(wl) + 1), i ->
          (wl[i] * EXP(2.0 * GREATEST((ds)[i] - refl[i], 0.0))) /
          list_sum(list_transform(range(1, len(wl) + 1), j ->
            wl[j] * EXP(2.0 * GREATEST((ds)[j] - refl[j], 0.0)))))
        ELSE wl END,
      CASE WHEN trans AND ph = 0 THEN ds ELSE refl END,
      CASE WHEN trans THEN ds ELSE lastl END,
      CASE WHEN trans AND ph >= 1 THEN
        list_transform(range(1, len(wl) + 1), i ->
          GREATEST((ds)[i] - refl[i], 0.0))
        WHEN trans AND ph = 0 THEN
        list_transform(range(1, len(wl) + 1), i -> 0.0)
        ELSE exc END,
      trans AND ph = 3
    FROM (
      SELECT it.*, d.dl AS ddl, d.shl AS dshl,
        (step >= 8 OR gdone) AND step >= 0 AS trans,
        (SELECT {
          'l': SUM((GREATEST(mm, 0.0) - y * mm + LN(1.0 + EXP(-ABS(mm)))) * wt)
               / SUM(wt),
          'g1': SUM((1.0/(1.0+EXP(-mm)) - y) * wt * z1) / SUM(wt),
          'g2': SUM((1.0/(1.0+EXP(-mm)) - y) * wt * z2) / SUM(wt),
          'g3': SUM((1.0/(1.0+EXP(-mm)) - y) * wt * z3) / SUM(wt),
          'g4': SUM((1.0/(1.0+EXP(-mm)) - y) * wt * z4) / SUM(wt),
          'g5': SUM((1.0/(1.0+EXP(-mm)) - y) * wt * z5) / SUM(wt),
          'gb': SUM((1.0/(1.0+EXP(-mm)) - y) * wt) / SUM(wt)
        } FROM (
          SELECT y,
            CASE WHEN it.ph = 0 THEN 1.0
                 ELSE it.wl[list_position(d.dl, lang)]
                      / d.shl[list_position(d.dl, lang)] END AS wt,
            (f1 - st.mu1)/st.sd1 AS z1, (f2 - st.mu2)/st.sd2 AS z2,
            (f3 - st.mu3)/st.sd3 AS z3, (f4 - st.mu4)/st.sd4 AS z4,
            (f5 - st.mu5)/st.sd5 AS z5,
            ((((((it.b - it.rate * it.gb)
              + (it.w1 - it.rate * it.g1) * ((f1 - st.mu1)/st.sd1))
              + (it.w2 - it.rate * it.g2) * ((f2 - st.mu2)/st.sd2))
              + (it.w3 - it.rate * it.g3) * ((f3 - st.mu3)/st.sd3))
              + (it.w4 - it.rate * it.g4) * ((f4 - st.mu4)/st.sd4))
              + (it.w5 - it.rate * it.g5) * ((f5 - st.mu5)/st.sd5)) AS mm
          FROM lab CROSS JOIN stats st) q) AS s,
        (SELECT list(sl / cnt2 ORDER BY lng) FROM (
          SELECT lang AS lng,
            SUM(GREATEST(mm2, 0.0) - y * mm2 + LN(1.0 + EXP(-ABS(mm2)))) AS sl,
            COUNT(*) AS cnt2
          FROM (
            SELECT lang, y,
              ((((((it.b - (((((it.w1 * st.mu1 / st.sd1)
                    + it.w2 * st.mu2 / st.sd2) + it.w3 * st.mu3 / st.sd3)
                    + it.w4 * st.mu4 / st.sd4) + it.w5 * st.mu5 / st.sd5))
                + (it.w1 / st.sd1) * f1) + (it.w2 / st.sd2) * f2)
                + (it.w3 / st.sd3) * f3) + (it.w4 / st.sd4) * f4)
                + (it.w5 / st.sd5) * f5) AS mm2
            FROM lab CROSS JOIN stats st) q2 GROUP BY lang)) AS ds
      FROM it, doms d WHERE NOT fin) z
  )
  SELECT * FROM it WHERE fin)
SELECT * FROM (
  SELECT unnest(d.dl) AS domain,
         unnest(d.cl) AS n_docs,
         unnest(list_transform(f.refl,  v -> FLOOR(v * 1000000 + 0.5) / 1000000)) AS ref_loss,
         unnest(list_transform(f.lastl, v -> FLOOR(v * 1000000 + 0.5) / 1000000)) AS final_loss,
         unnest(list_transform(f.exc,   v -> FLOOR(v * 1000000 + 0.5) / 1000000)) AS excess,
         unnest(list_transform(f.wl,    v -> FLOOR(v * 1000000 + 0.5) / 1000000)) AS weight
  FROM doremi f, doms d) u
ORDER BY domain"""

  private val x57 = DeclaredQuery("x57_train_quality_classifier",
    // the CCNet/GPT-3-style quality-filter loop end to end, trained ON the
    // corpus instead of imported: Gopher-rule weak labels → distributed
    // logistic regression on the signal columns (one partial-agg pass per
    // GD step, driver state = coefficients) → smooth re-score of every
    // document, reported as per-lang rule-vs-model keep counts.
    // ORACLED (r17, the x65 recursion technique): the GD trajectory IS
    // SQL-expressible — a WITH RECURSIVE iterate carrying
    // (w, b, rate, loss, grad) replays the exact update rule
    // (standardized features, one loss+grad aggregation per step,
    // rate-halving on a failed step, tol stop) against the x41 oracle's
    // feature replay. Spark folds per-partition partials in partition
    // order where DuckDB sums globally — a ~1e-10 coefficient divergence —
    // so the learned coefficients are rounded to 6 decimals on BOTH sides
    // before the scoring pass: the engines then score with bit-identical
    // weights and the keep counts are exact integers.
    // LogisticRegressionSpec still pins the trainer against a driver-side
    // reference to 1e-6 and the composition with applyLinearModel.
    (s, d) => {
      import graft.functions.{Scoring, Scrub}
      // localCheckpoint: the trainer's GD passes persist their OWN narrow
      // projection, but the final re-score below would otherwise recompute
      // the Gopher signal expressions a second time
      val feats = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          Scrub.gopherSignals(col("text")).as("sig"))
        .select(col("doc_id"), col("lang"),
          col("sig.n_tokens").cast("double").as("f_tokens"),
          coalesce(col("sig.mean_tok_len"), lit(0.0)).as("f_mean_len"),
          col("sig.symbol_word_ratio").as("f_sym"),
          col("sig.alpha_token_frac").as("f_alpha"),
          col("sig.stopword_hits").cast("double").as("f_stop"),
          Scrub.gopherKeep(col("sig"), minTokens = 20, minStopwordHits = 1)
            .cast("double").as("y"))
        .localCheckpoint(true)
      val m = graft.operators.LogisticRegression.train(feats,
        Seq("f_tokens", "f_mean_len", "f_sym", "f_alpha", "f_stop"), "y",
        iters = 20)
      // round4-style 6-decimal pin (FLOOR(x·1e6+0.5)/1e6, driver-side):
      // absorbs the cross-engine float-fold divergence of the trajectory
      // so both engines score with the SAME coefficient doubles
      def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      Scoring.applyLinearModel(feats,
          m.weights.map { case (c, w) => c -> r6(w) }, r6(m.bias))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("y")).cast("long").as("n_rule_keep"),
          sum(col("keep").cast("long")).as("n_model_keep"))
        .orderBy("lang")
    },
    Some(X57OracleSql))

  private val x58 = DeclaredQuery("x58_sketch_vocab",
    // per-language distinct-vocabulary tracking via mergeable HLL
    // artifacts (Spark's DataSketches aggregates): one partial-agg pass
    // whose shuffle carries sketch bytes, never words — the incremental
    // profiling shape (fold tomorrow's crawl in with mergeHllByGroup, no
    // rescan). Rows-only: DataSketches HLL keeps an order-sensitive HIP
    // estimator, so the estimate is an error-bounded value, not a
    // reproducible integer; the entry carries the EXACT distinct count
    // alongside and a self-validating within-5% flag per row.
    (s, d) => {
      val words = t(s, d, "documents")
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
      val exact = words.groupBy("lang")
        .agg(countDistinct(col("w")).as("exact_vocab"))
      val est = graft.operators.SketchStats
        .hllSketchByGroup(words, "lang", col("w"))
        .select(col("lang"),
          hll_sketch_estimate(col("sketch")).cast("long").as("hll_vocab"))
      exact.join(est, "lang")
        .withColumn("within_5pct",
          abs(col("hll_vocab") - col("exact_vocab")).cast("double")
            / col("exact_vocab") <= 0.05)
        .orderBy("lang")
    },
    None)

  private val x58b = DeclaredQuery("x58b_sketch_novelty",
    // crawl-over-crawl DOCUMENT novelty/overlap from THETA artifacts
    // alone — the sketch-cost sibling of the exact dedupeAgainst + count:
    // sources src0–9 are the kept corpus, src10–19 the new crawl, keys
    // are full document texts; the kept side contributes ONLY its
    // kilobyte sketch (never rescanned). Below the theta sampling
    // threshold the sketches are exact hash sets, so the entry carries
    // the exact anti/semi-join counts next to the sketch estimates with
    // equality flags. Rows-only by declaration (sketch internals have no
    // SQL spelling); SketchStatsSpec pins exactness sub-threshold.
    (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("__src_num",
          regexp_extract(col("source"), "(\\d+)", 1).cast("int"))
      val texts = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("text").as("w"))
      val seen = texts(docs.where(col("__src_num") < 10))
      val fresh = texts(docs.where(col("__src_num") >= 10))
      val sSeen = graft.operators.SketchStats.thetaSketch(seen, col("w"))
      val sNew = graft.operators.SketchStats.thetaSketch(fresh, col("w"))
      val novelEst = graft.operators.SketchStats.noveltyEstimate(sNew, sSeen)
      val overlapEst = graft.operators.SketchStats.overlapEstimate(sNew, sSeen)
      val exactNovel = fresh.distinct()
        .join(seen.distinct(), Seq("w"), "left_anti").count()
      val exactOverlap = fresh.distinct()
        .join(seen.distinct(), Seq("w"), "left_semi").count()
      val spark = s
      import spark.implicits._
      Seq((novelEst, exactNovel, novelEst == exactNovel,
        overlapEst, exactOverlap, overlapEst == exactOverlap))
        .toDF("novel_est", "novel_exact", "novel_match",
          "overlap_est", "overlap_exact", "overlap_match")
    },
    None)

  private val x61 = DeclaredQuery("x61_ccnet_pipeline",
    // the CCNet head/middle/tail pipeline END TO END, composed from pieces
    // that are each oracled on their own (x32 LM scoring, x36e quantile
    // thresholds): train the stupid-backoff bigram LM on the "reference"
    // slice (sources src0–4 stand in for the wiki-domain corpus), score
    // EVERY document by mean log10 backoff probability, cut the scored
    // corpus into fluency tertiles at exact interpolated quantiles, and
    // report the per-(lang, bucket) mixture. Unscored docs (no bigrams)
    // get their own bucket rather than vanishing. The oracle re-derives
    // the whole composition in DuckDB SQL — train restriction, scoring,
    // QUANTILE_CONT tertiles, bucket counts — so the hash pins the
    // composed pipeline, not just its parts.
    (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("__src_num",
          regexp_extract(col("source"), "(\\d+)", 1).cast("int"))
      val lm = graft.operators.LanguageModel.trainBigram(
        docs.where(col("__src_num") < 5), "text")
      // localCheckpoint the narrow scored frame: the tertile FIT is an
      // action and the bucketed output is another — without pinning, the
      // scoring explode+joins would execute twice
      val scored = graft.operators.LanguageModel
        .scoreStupidBackoff(docs, "doc_id", "text", lm)
        .withColumn("s4", floor(col("lm_score") * 10000 + 0.5) / 10000)
        .select("doc_id", "s4")
        .localCheckpoint(true)
      val ts = graft.operators.Percentiles.exactGlobalValues(
        scored.where(col("s4").isNotNull), "s4", Seq(1.0 / 3, 2.0 / 3))
      val (t1, t2) = (ts(0).get, ts(1).get)
      val bucketed = scored.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket",
          when(col("s4").isNull, "unscored")
            .when(col("s4") <= t1, "tail")
            .when(col("s4") <= t2, "middle")
            .otherwise("head"))
      bucketed.groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket")
    },
    Some("""WITH docs AS (
  SELECT doc_id, lang, text,
    CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) AS src_num
  FROM documents),
tok AS (
  SELECT doc_id, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS ts
  FROM docs WHERE src_num < 5),
uni AS (SELECT t AS term, COUNT(*) AS c1
        FROM (SELECT unnest(ts) AS t FROM tok) GROUP BY 1),
n AS (SELECT COUNT(*) AS n FROM (SELECT unnest(ts) FROM tok)),
alltok AS (
  SELECT doc_id, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS ts
  FROM docs),
pos AS (SELECT doc_id, p[1] AS w1, p[2] AS w2
        FROM (SELECT doc_id,
                unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i+1]])) AS p
              FROM alltok WHERE len(ts) >= 2)),
big AS (SELECT w1, w2, COUNT(*) AS c2
        FROM (SELECT doc_id, p[1] AS w1, p[2] AS w2
              FROM (SELECT doc_id,
                      unnest(list_transform(range(1, len(ts)), i -> [ts[i], ts[i+1]])) AS p
                    FROM tok WHERE len(ts) >= 2)) GROUP BY 1, 2),
sc AS (SELECT pos.doc_id,
         CASE WHEN b.c2 IS NOT NULL THEN b.c2 * 1.0 / u1.c1
              WHEN u2.c1 IS NOT NULL THEN 0.4 * u2.c1 / n.n
              ELSE 0.4 / n.n END AS p
       FROM pos
       LEFT JOIN big b ON pos.w1 = b.w1 AND pos.w2 = b.w2
       LEFT JOIN uni u1 ON pos.w1 = u1.term
       LEFT JOIN uni u2 ON pos.w2 = u2.term
       CROSS JOIN n),
agg AS (SELECT doc_id,
          FLOOR(AVG(LOG10(p)) * 10000 + 0.5) / 10000 AS s4
        FROM sc GROUP BY doc_id),
q AS (SELECT QUANTILE_CONT(s4, 1.0/3) AS t1, QUANTILE_CONT(s4, 2.0/3) AS t2
      FROM agg),
bucketed AS (
  SELECT d.lang,
    CASE WHEN a.s4 IS NULL THEN 'unscored'
         WHEN a.s4 <= q.t1 THEN 'tail'
         WHEN a.s4 <= q.t2 THEN 'middle'
         ELSE 'head' END AS bucket
  FROM docs d LEFT JOIN agg a USING (doc_id) CROSS JOIN q)
SELECT lang, bucket, COUNT(*) AS n_docs
FROM bucketed GROUP BY lang, bucket
ORDER BY lang, bucket"""))

  private val x62 = DeclaredQuery("x62_keep_cluster_best",
    // quality-policy fuzzy dedup: from each near-dup cluster keep the row
    // maximal under (n_chars, doc_id) — the best copy, not the arbitrary
    // min id. ORACLED (r16): the x16 recursive-CTE closure at this
    // entry's 0.8 threshold gives the clusters in DuckDB; the max-policy
    // survivor is then ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY
    // n_chars DESC, doc_id DESC) = 1 (TopKRowsAggregate keeps the row
    // MAXIMAL under the (n_chars, doc_id) struct order), and the min-id
    // policy is doc_id = cluster (the component key IS the min id). The
    // former self-validating flags (total-cardinality parity, best never
    // fewer chars) stay in the output but are now re-derived and
    // hash-pinned by the oracle rather than merely asserted; per-language
    // counts may legitimately differ between policies, because a cluster
    // can span languages and the representative decides which language
    // keeps the row.
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val docs = spread(t(s, d, "documents"))
      // localCheckpoint the pair list: BOTH policies below consume it —
      // without pinning, the LSH band join would execute twice
      val pairs = graft.operators.NearDup
        .nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
        .localCheckpoint(true)
      // r20: ONE component fixed point shared by both survivor policies
      // (each policy call previously ran its own — identical forests by
      // determinism, so one is pure waste), checkpointed because the two
      // policies and their stats actions all read it. O(nodes) long pairs.
      val comp = graft.operators.ConnectedComponents
        .components(pairs, "id_1", "id_2")
        .localCheckpoint(true)
      val best = graft.operators.Dedup.keepClusterBestFrom(
        docs, "doc_id", comp, Seq("n_chars", "doc_id"))
      val minId = graft.operators.Dedup.keepClusterRepresentativesFrom(
        docs, "doc_id", comp)
      // r20: the best-policy totals fold out of the per-lang aggregate
      // (Σ over langs — NULL langs still group, sum(n_chars) skips NULLs
      // identically), so `best` executes ONCE instead of twice; the per-
      // lang frame is K rows, checkpointed for its two consumers
      val perLang = best.groupBy("lang")
        .agg(count(lit(1)).as("n_kept_best"),
          sum(col("n_chars")).as("chars_kept_best"))
        .localCheckpoint(true)
      val bestStats = perLang.agg(sum("n_kept_best"),
        sum("chars_kept_best")).head()
      val minStats = minId.agg(count(lit(1)).as("__nm"),
        sum(col("n_chars")).as("__cm")).head()
      perLang
        .withColumn("total_best", lit(bestStats.getLong(0)))
        .withColumn("total_minid", lit(minStats.getLong(0)))
        .withColumn("same_total_cardinality",
          lit(bestStats.getLong(0) == minStats.getLong(0)))
        .withColumn("best_never_fewer_chars",
          lit(bestStats.getLong(1) >= minStats.getLong(1)))
        .orderBy("lang")
    },
    Some(ccOracle(
      """,
cl AS (SELECT d.*, COALESCE(c.component, d.doc_id) AS cluster
       FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
best AS (SELECT * FROM (
  SELECT cl.*, ROW_NUMBER() OVER (PARTITION BY cluster
    ORDER BY n_chars DESC, doc_id DESC) AS rn FROM cl) WHERE rn = 1),
minid AS (SELECT * FROM cl WHERE doc_id = cluster),
tb AS (SELECT COUNT(*) AS nb, CAST(SUM(n_chars) AS BIGINT) AS cb FROM best),
tm AS (SELECT COUNT(*) AS nm, CAST(SUM(n_chars) AS BIGINT) AS cm FROM minid)
SELECT lang, COUNT(*) AS n_kept_best,
       CAST(SUM(n_chars) AS BIGINT) AS chars_kept_best,
       (SELECT nb FROM tb) AS total_best,
       (SELECT nm FROM tm) AS total_minid,
       (SELECT nb FROM tb) = (SELECT nm FROM tm) AS same_total_cardinality,
       (SELECT cb FROM tb) >= (SELECT cm FROM tm) AS best_never_fewer_chars
FROM best GROUP BY lang ORDER BY lang""", minJ = "0.8")))

  private val x63 = DeclaredQuery("x63_token_shards",
    // training-shard assignment: reproducible sha-shuffled order + a
    // token-budget cut every ~5000 chars — each document lands in the
    // shard where its exclusive prefix starts. The running total is a
    // RangeScan on the shuffle key, never a single-partition ORDER BY
    // window; the oracle IS that windowed-SQL spelling, so the hash pins
    // the recipe's equivalence at gate scale.
    (s, d) => graft.operators.Packing.assignTokenShards(
        t(s, d, "documents"), "doc_id", col("n_chars"),
        tokensPerShard = 5000L, salt = "ep0")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, n AS n_tokens,
  CAST(FLOOR(CAST(cum - n AS DOUBLE) / 5000.0) AS BIGINT) AS shard_id
FROM (
  SELECT doc_id, n,
    SUM(n) OVER (ORDER BY k, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT doc_id, COALESCE(n_chars, 0) AS n,
          sha256(CAST(doc_id AS VARCHAR) || ':ep0') AS k
        FROM documents))
ORDER BY doc_id"""))

  private val x64 = DeclaredQuery("x64_sentence_chunks",
    // sentence-aware chunking: greedy sentence packing to a 24-token
    // budget, never cutting mid-sentence — one per-row aggregate fold,
    // map-only, fused with the scan. The synthetic corpus carries no
    // terminal punctuation (every doc would be ONE oversized sentence —
    // pinned in ScrubSpec), so the entry first inserts a period after
    // every 6th word deterministically; real corpora bring their own.
    // ORACLED via the x66 construction: the injected punctuation makes
    // every sentence exactly 6 tokens (the trailing period glues to the
    // 6th word) except a doc's final partial sentence, so the greedy
    // 24-token fold provably reduces to contiguous 24-token runs of the
    // punctuated text — a final sentence of t ≤ 6 tokens always fits the
    // open chunk (whose load is a multiple of 6 ≤ 18), preserving the
    // alignment. DuckDB re-derives chunk_id and n_tokens by token-index
    // grouping; the general fold (irregular sentence lengths, where no
    // closed form exists) stays pinned bit-exactly against a driver-side
    // reference on random corpora in PackingSpec.
    (s, d) => {
      val punctuated = t(s, d, "documents").withColumn("text",
        regexp_replace(col("text"), "((?:\\S+\\s+){5}\\S+)\\s+", "$1. "))
      graft.operators.Packing.chunkSentences(
          punctuated, "doc_id", "text", maxTokens = 24)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""WITH pd AS (
  SELECT doc_id, regexp_replace(text, '((?:\S+\s+){5}\S+)\s+', '\1. ', 'g') AS ptext
  FROM documents),
tk AS (SELECT doc_id, i - 1 AS i0
       FROM (SELECT doc_id,
                    list_filter(regexp_split_to_array(ptext, '\s+'), x -> length(x) > 0) AS toks,
                    unnest(range(1, len(toks) + 1)) AS i
             FROM pd))
SELECT doc_id, CAST(FLOOR(i0 / 24) AS BIGINT) AS chunk_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM tk GROUP BY doc_id, chunk_id
ORDER BY doc_id, chunk_id"""))

  private val x65 = DeclaredQuery("x65_span_corruption",
    // T5-style span-corruption pairs, content-keyed and deterministic:
    // sentinels replace masked spans in the input, the target lists each
    // sentinel + its hidden tokens. ORACLED via recursive CTE (the x36b
    // precedent): span decisions depend only on (doc_id, salt, position)
    // — sha256 arithmetic with a known DuckDB spelling — never on token
    // CONTENT, so DuckDB replays the exact per-token state machine
    // (mask-continue / cooldown / hash-gated open / keep) positionally
    // and re-derives n_spans and the kept/masked counts; the recursion
    // is O(max tokens per doc) deep with one row per active doc per
    // step. The string-level construction (sentinel text, splice-back
    // roundtrip, adjacency) stays pinned bit-exactly in
    // SpanCorruptionSpec; the gate's conserves_tokens flag carries those
    // invariants in-entry, and the oracle checks conservation from its
    // own replayed counts.
    (s, d) => {
      // r20: the per-token sha256 state machine is pure map CPU over a
      // 1-partition gate scan — spread it across the session's cores
      // (no-op at corpus scale, see [[spread]]); span decisions depend
      // only on (doc_id, salt, position), so results are partitioning-
      // invariant (oracle hash unchanged)
      val docs = spread(t(s, d, "documents"))
      val out = graft.operators.SpanCorruption.corrupt(
        docs, "doc_id", "text", salt = "ep0")
      def words(c: org.apache.spark.sql.Column) =
        filter(split(c, " "), w => w =!= "")
      def nonSentinel(c: org.apache.spark.sql.Column) =
        size(filter(words(c), w => !w.startsWith("<extra_id_")))
      def sentinels(c: org.apache.spark.sql.Column) =
        size(filter(words(c), w => w.startsWith("<extra_id_")))
      out.join(docs.select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), w => w =!= ""))
            .as("n_orig")), "doc_id")
        .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"),
          nonSentinel(col("input_text")).cast("long").as("n_kept"),
          nonSentinel(col("target_text")).cast("long").as("n_masked"),
          (nonSentinel(col("input_text")) + nonSentinel(col("target_text"))
            === col("n_orig") &&
            sentinels(col("input_text")) === col("n_spans") &&
            sentinels(col("target_text")) === col("n_spans") &&
            !col("input_text").rlike("<extra_id_\\d+> <extra_id_\\d+>"))
            .as("conserves_tokens"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE nn AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS n
  FROM documents),
walk AS (
  SELECT doc_id, 0 AS i, 0 AS rem, 0 AS k, 0 AS kept, 0 AS masked, n FROM nn
  UNION ALL
  SELECT doc_id, i + 1,
         CASE WHEN d = 'c' THEN (CASE WHEN rem = 1 THEN -1 ELSE rem - 1 END)
              WHEN d = 'o' THEN (CASE WHEN hl % 3 = 0 THEN -1 ELSE CAST(hl % 3 AS INTEGER) END)
              ELSE 0 END AS rem,
         CASE WHEN d = 'o' THEN k + 1 ELSE k END AS k,
         CASE WHEN d = 'k' THEN kept + 1 ELSE kept END AS kept,
         CASE WHEN d = 'k' THEN masked ELSE masked + 1 END AS masked,
         n
  FROM (
    SELECT *, CASE WHEN rem > 0 THEN 'c' WHEN rem = -1 THEN 'k'
                   WHEN hs % 6 = 0 THEN 'o' ELSE 'k' END AS d
    FROM (
      SELECT doc_id, i, rem, k, kept, masked, n,
             ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':ep0:s:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT AS hs,
             ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':ep0:l:' || CAST(i AS VARCHAR)), 1, 8))::BIGINT AS hl
      FROM walk WHERE i < n) h1) h2)
SELECT doc_id, CAST(k AS BIGINT) AS n_spans, CAST(kept AS BIGINT) AS n_kept,
       CAST(masked AS BIGINT) AS n_masked,
       (kept + masked = n) AS conserves_tokens
FROM walk WHERE i = n ORDER BY doc_id"""))

  private val x66 = DeclaredQuery("x66_passage_retrieval",
    // RAG-shape passage retrieval END TO END, ORACLED end to end (x61
    // style): sentence-aware chunking (x64's construction) → Okapi BM25
    // over the PASSAGE corpus (chunk lengths and corpus stats re-derived
    // at passage granularity, exactly how passage search differs from
    // document search) → top-20 passages by (score, passage id). The
    // injected punctuation makes every sentence exactly 6 tokens, so the
    // greedy fold provably reduces to "4 consecutive sentences per chunk"
    // = contiguous 24-token runs of the punctuated text — a closed form
    // DuckDB re-derives by token-index grouping (no lookbehind needed).
    // The cross-term double sum uses x13b's fixed-order addition, and the
    // oracle mirrors Spark's exact expression tree (same parenthesization,
    // one ln per term), so the rounded scores hash-match.
    (s, d) => {
      val punctuated = t(s, d, "documents").withColumn("text",
        regexp_replace(col("text"), "((?:\\S+\\s+){5}\\S+)\\s+", "$1. "))
      val passages = graft.operators.Packing.chunkSentences(
          punctuated, "doc_id", "text", maxTokens = 24)
        .withColumn("passage_id",
          col("doc_id") * 1000 + col("chunk_id"))
      val per = graft.operators.Relevance.bm25PerTerm(
        passages, "passage_id", "chunk_text",
        Seq("window", "hash", "spark"))
      per.groupBy("passage_id").agg(
          coalesce(sum(when(col("term") === "window", col("score"))), lit(0.0)).as("v1"),
          coalesce(sum(when(col("term") === "hash", col("score"))), lit(0.0)).as("v2"),
          coalesce(sum(when(col("term") === "spark", col("score"))), lit(0.0)).as("v3"))
        .select(col("passage_id"),
          round2((col("v1") + col("v2")) + col("v3")).as("score"))
        .orderBy(col("score").desc, col("passage_id"))
        .limit(20)
    },
    Some("""WITH pd AS (
  SELECT doc_id, regexp_replace(text, '((?:\S+\s+){5}\S+)\s+', '\1. ', 'g') AS ptext
  FROM documents),
tk AS (SELECT doc_id, toks[i] AS tok, i - 1 AS i0
       FROM (SELECT doc_id,
                    list_filter(regexp_split_to_array(ptext, '\s+'), x -> length(x) > 0) AS toks,
                    unnest(range(1, len(toks) + 1)) AS i
             FROM pd)),
pg AS (SELECT doc_id * 1000 + CAST(FLOOR(i0 / 24) AS BIGINT) AS passage_id,
              lower(tok) AS term
       FROM tk),
dl AS (SELECT passage_id, CAST(COUNT(*) AS DOUBLE) AS dl FROM pg GROUP BY 1),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT passage_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM pg
       WHERE term IN ('window', 'hash', 'spark') GROUP BY 1, 2),
dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
sc AS (SELECT passage_id, term,
         LN(1.0 + (n - df + 0.5) / (df + 0.5)) *
           ((tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))) AS score
       FROM tf JOIN dfq USING (term) JOIN dl USING (passage_id) CROSS JOIN st),
ag AS (SELECT passage_id,
         COALESCE(SUM(CASE WHEN term = 'window' THEN score END), 0) AS v1,
         COALESCE(SUM(CASE WHEN term = 'hash' THEN score END), 0) AS v2,
         COALESCE(SUM(CASE WHEN term = 'spark' THEN score END), 0) AS v3
       FROM sc GROUP BY passage_id)
SELECT passage_id, FLOOR(((v1 + v2) + v3) * 100 + 0.5) / 100 AS score
FROM ag ORDER BY score DESC, passage_id LIMIT 20"""))

  private val x67 = DeclaredQuery("x67_audio_windows",
    // audio-column plumbing with a fully REAL kernel: 16-bit PCM needs no
    // codec, so the per-partition batch decode computes true windowed
    // RMS/peak/zero-crossing features. Each doc synthesizes a sine at a
    // doc-keyed frequency. ORACLED as of r16 (was rows-only): the PCM
    // bytes are a pure formula — sample v = trunc(A·sin(2π·f·i/sr)·32767)
    // — so DuckDB regenerates every int16 sample with the IDENTICAL
    // left-associated arithmetic (trunc ↔ JVM toInt truncation) and
    // replays windowing, RMS, and the nonzero-sign zero-crossing rule
    // relationally; libm sin ulps only matter within ~2e-12 of a
    // truncation boundary and the run is deterministic, so a local green
    // is a driver green. The closed-form self-validation (mean RMS ≈
    // A/√2, mean ZCR ≈ 2f/sr) stays as carried flags, now hash-pinned
    // too since the oracle re-derives them from ITS samples.
    (s, d) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val sr = 8000
      val media = t(s, d, "documents").select(col("doc_id")).as[Long]
        .map(id => (id, 200.0 + (id % 40) * 20.0,
          graft.operators.Multimodal.sinePcm(
            200.0 + (id % 40) * 20.0, sr, 4000, amplitude = 0.5)))
        .toDF("media_id", "freq", "content")
      val ws = graft.operators.Multimodal
        .pcmWindowFeatures(media, windowSamples = 2000)
      ws.groupBy("media_id")
        .agg(count(lit(1)).as("n_windows"),
          avg("rms").as("__rms"), avg("zcr").as("__zcr"))
        .join(media.select(col("media_id"), col("freq")), "media_id")
        .select(col("media_id").as("doc_id"), col("n_windows"),
          round4(col("__rms")).as("mean_rms"),
          round4(col("__zcr")).as("mean_zcr"),
          (abs(col("__rms") - lit(0.5 / math.sqrt(2.0))) < 0.01).as("rms_ok"),
          (abs(col("__zcr") - col("freq") * 2 / sr) < 0.01).as("zcr_ok"))
        .orderBy("doc_id")
    },
    Some("""WITH p AS (
  SELECT doc_id, 200.0 + (doc_id % 40) * 20.0 AS freq FROM documents),
s AS (SELECT doc_id, freq, i, i // 2000 AS wid,
        CAST(trunc(0.5 * sin(2 * pi() * freq * i / 8000) * 32767.0)
             AS INTEGER) / 32768.0 AS sv
      FROM p, range(0, 4000) t(i)),
nz AS (SELECT doc_id, wid, i, CASE WHEN sv > 0 THEN 1 ELSE -1 END AS sg
       FROM s WHERE sv <> 0),
lg AS (SELECT doc_id, wid, sg,
         lag(sg) OVER (PARTITION BY doc_id, wid ORDER BY i) AS prev
       FROM nz),
cr AS (SELECT doc_id, wid,
         SUM(CASE WHEN prev IS NOT NULL AND sg <> prev THEN 1 ELSE 0 END)
           AS crossings
       FROM lg GROUP BY doc_id, wid),
feat AS (SELECT s.doc_id, s.wid,
           SQRT(SUM(s.sv * s.sv) / COUNT(*)) AS rms,
           COUNT(*) AS len
         FROM s GROUP BY s.doc_id, s.wid),
wz AS (SELECT f.doc_id, f.wid, f.rms,
         CAST(COALESCE(cr.crossings, 0) AS DOUBLE) / (f.len - 1) AS zcr
       FROM feat f LEFT JOIN cr ON cr.doc_id = f.doc_id AND cr.wid = f.wid),
agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
          AVG(rms) AS mrms, AVG(zcr) AS mzcr
        FROM wz GROUP BY doc_id)
SELECT a.doc_id, a.n_windows,
       FLOOR(a.mrms * 10000 + 0.5) / 10000 AS mean_rms,
       FLOOR(a.mzcr * 10000 + 0.5) / 10000 AS mean_zcr,
       ABS(a.mrms - 0.35355339059327373) < 0.01 AS rms_ok,
       ABS(a.mzcr - p.freq * 2 / 8000) < 0.01 AS zcr_ok
FROM agg a JOIN p USING (doc_id)
ORDER BY a.doc_id"""))

  private val x69 = DeclaredQuery("x69_doremi_mixture",
    // DoReMi-style domain reweighting (MixtureOptimization.doremiWeights):
    // learn per-LANGUAGE mixture weights by alternating weighted proxy
    // refits (the x57 quality classifier) with exponentiated-gradient
    // Group-DRO updates on per-domain EXCESS loss vs the unweighted
    // reference fit. Language is the domain with genuinely skewed shares
    // (en ≈ 3× the rest) AND label correlation (the stopword gate is
    // English-centric), so the uniform-target refit really moves the fit
    // and EG really moves the weights — unlike source, whose shares are
    // exactly equal in this corpus (the provable do-nothing fixed point,
    // pinned as such in the spec). ORACLED (r18, the x57 recipe one level
    // up): the WHOLE loop is a single WITH RECURSIVE state machine —
    // 4 phases (ref fit + 3 DoReMi steps) × (init + ≤8 GD iterations +
    // transition) — carrying the GD state (w, b, rate, loss, grad), the
    // K-element EG weight LIST, and the per-domain loss lists. Each
    // recursion row evaluates ONE weighted loss+grad aggregate at the
    // proposed point (per-example weight w_d/share_d from the carried
    // list; the init row evaluates at the zero point because w = g = 0
    // makes the proposed point 0); phase transitions compute the
    // per-domain mean-loss list of the un-standardized model and apply
    // the closed-form EG update inline. Standardization is unweighted and
    // shared across phases (trainWeighted's contract), so stats is the
    // same CTE as x57's. The 6-decimal pin on all four reported loss /
    // weight columns absorbs the cross-engine float-fold divergence
    // (~1e-15 relative; excess values sit at 1e-4..1e-3, 10+ orders from
    // a rounding boundary). MixtureOptimizationSpec still pins the
    // uniform fixed point, the hard-domain upweighting direction, and
    // determinism.
    (s, d) => {
      import s.implicits._
      import graft.functions.Scrub
      val feats = t(s, d, "documents")
        .select(col("lang"),
          Scrub.gopherSignals(col("text")).as("sig"))
        .select(col("lang"),
          col("sig.n_tokens").cast("double").as("f_tokens"),
          coalesce(col("sig.mean_tok_len"), lit(0.0)).as("f_mean_len"),
          col("sig.symbol_word_ratio").as("f_sym"),
          col("sig.alpha_token_frac").as("f_alpha"),
          col("sig.stopword_hits").cast("double").as("f_stop"),
          Scrub.gopherKeep(col("sig"), minTokens = 20, minStopwordHits = 1)
            .cast("double").as("y"))
        .localCheckpoint(true)
      val res = graft.operators.MixtureOptimization.doremiWeights(
        feats, "lang",
        Seq("f_tokens", "f_mean_len", "f_sym", "f_alpha", "f_stop"), "y",
        steps = 3, eta = 2.0, itersPerStep = 8)
      // x57's 6-decimal pin, driver-side: the weights frame is a K-row
      // model artifact, so the rounding happens on the case-class values
      def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      res.weights.map(dw => (dw.domain, dw.nDocs, r6(dw.refLoss),
          r6(dw.finalLoss), r6(dw.excess), r6(dw.weight)))
        .toDF("domain", "n_docs", "ref_loss", "final_loss", "excess",
          "weight")
        .orderBy("domain")
    },
    Some(X69OracleSql))

  private val x70 = DeclaredQuery("x70_ngram_diversity",
    // corpus diversity per language (Relevance.ngramDiversity): the
    // distinct-1/distinct-2 metrics — unigram and bigram type/instance
    // ratios over lowercased tokens, the standard quick read on
    // repetitiveness per corpus slice. One explode + count/count_distinct
    // per order, both partial-agg map-side; the ratios are exact-integer
    // divisions, so the doubles hash-match without rounding.
    (s, d) => graft.operators.Relevance
      .ngramDiversity(t(s, d, "documents"), "lang", "text")
      .orderBy("lang"),
    Some("""WITH base AS (
  SELECT lang, list_transform(
    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0),
    t -> lower(t)) AS toks
  FROM documents WHERE lang IS NOT NULL),
uni AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_types
  FROM (SELECT lang, unnest(toks) AS g FROM base) GROUP BY lang),
bi AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS n_bigram_types
  FROM (SELECT lang, unnest(list_transform(range(1, len(toks)),
          i -> toks[i] || ' ' || toks[i + 1])) AS g FROM base)
  GROUP BY lang)
SELECT u.lang, n_tokens, n_types,
       COALESCE(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       COALESCE(n_bigram_types, CAST(0 AS BIGINT)) AS n_bigram_types,
       CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_1,
       CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN NULL
            ELSE CAST(n_bigram_types AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
       END AS distinct_2
FROM uni u LEFT JOIN bi USING (lang)
ORDER BY lang"""))

  private val x71 = DeclaredQuery("x71_scd2_historize",
    // SCD2 historization (History.historize): each user's event_type
    // observations become validity intervals — valid_from at each state
    // change, valid_to chained from the next change, NULL while current.
    // The warehouse complement of x48's keepLatest (state NOW vs state
    // WHEN); one key shuffle + one sort feeding both window passes
    // (exchange reuse pinned in HistorySpec). The oracle is the identical
    // LAG-change / LEAD-close window spelling.
    (s, d) => graft.operators.History.historize(
        t(s, d, "events").select("event_id", "ts", "user_id", "event_type"),
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"),
        stateCols = Seq("event_type"))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("from_event_id"), col("valid_to"), col("is_current"))
      .orderBy("user_id", "valid_from", "from_event_id"),
    Some("""WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events),
c AS (SELECT user_id, event_type, ts, event_id FROM o
      WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
s AS (SELECT user_id, event_type, ts AS valid_from, event_id AS from_event_id,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      FROM c)
SELECT user_id, event_type, valid_from, from_event_id, valid_to,
       valid_to IS NULL AS is_current
FROM s ORDER BY user_id, valid_from, from_event_id"""))

  private val x72 = DeclaredQuery("x72_preference_pairs",
    // RLHF/DPO preference-pair construction (Preferences.bestVsRest):
    // within each source, the top-scored document against every candidate
    // at least 50 points below it — the InstructGPT "clear winner"
    // labeling recipe. Single window pass (the winner rides along as
    // first_value — no self-join); the oracle is the identical
    // FIRST_VALUE spelling. Margins are differences of integer-valued
    // doubles, so the hash matches without rounding.
    (s, d) => graft.operators.Preferences.bestVsRest(
        t(s, d, "documents"), "source", "doc_id",
        col("n_chars").cast("double"), minMargin = 50.0)
      .orderBy("source", "rejected_id"),
    Some("""WITH r AS (
  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS s,
         ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS rk,
         FIRST_VALUE(doc_id) OVER (PARTITION BY source
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS chosen_id,
         FIRST_VALUE(CAST(n_chars AS DOUBLE)) OVER (PARTITION BY source
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS chosen_score
  FROM documents WHERE n_chars IS NOT NULL)
SELECT source, chosen_id, doc_id AS rejected_id, chosen_score,
       s AS rejected_score, chosen_score - s AS margin
FROM r WHERE rk > 1 AND chosen_score - s >= 50
ORDER BY source, rejected_id"""))

  private val x72b = DeclaredQuery("x72b_adjacent_pairs",
    // the "hardest informative pairs" policy (Preferences.adjacentPairs):
    // consecutive candidates in (score DESC, id ASC) order with gap >= 5 —
    // near-boundary comparisons, the pairs DPO ablations favor. A lag in
    // the same single window; LAG is the oracle spelling too.
    (s, d) => graft.operators.Preferences.adjacentPairs(
        t(s, d, "documents"), "source", "doc_id",
        col("n_chars").cast("double"), minMargin = 5.0)
      .orderBy("source", "rejected_id"),
    Some("""WITH r AS (
  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS s,
         LAG(doc_id) OVER (PARTITION BY source
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS chosen_id,
         LAG(CAST(n_chars AS DOUBLE)) OVER (PARTITION BY source
           ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id) AS chosen_score
  FROM documents WHERE n_chars IS NOT NULL)
SELECT source, chosen_id, doc_id AS rejected_id, chosen_score,
       s AS rejected_score, chosen_score - s AS margin
FROM r WHERE chosen_id IS NOT NULL AND chosen_score - s >= 5
ORDER BY source, rejected_id"""))

  private val x73 = DeclaredQuery("x73_kll_quantile_sketch",
    // per-language KLL quantile-sketch artifact over document token counts
    // (SketchStats.kllSketchByGroup + the graft_kll_agg
    // TypedImperativeAggregate): the DISTRIBUTIONS member of the sketch
    // roster (HLL distinct x31b/x58, MG/CMS frequency x31c/x47, theta set
    // algebra x58b — now quantiles). Rows-only, SELF-VALIDATING in RANK
    // space, the actual KLL guarantee: for each group the sketch's rank of
    // the EXACT p50/p90 (computed in-entry with the exact percentile
    // aggregate at gate scale) must sit within 3× the k=200 normalized
    // rank-error bound of 0.5/0.9. Sketch BYTES are not run-deterministic
    // (random compaction bit — the HLL HIP precedent), the bound is.
    (s, d) => {
      val docs = t(s, d, "documents").select(col("lang"),
        size(split(col("text"), " ")).cast("double").as("v"))
      val sk = graft.operators.SketchStats.kllSketchByGroup(docs, "lang", col("v"))
      val exact = docs.groupBy("lang").agg(
        expr("percentile(v, 0.5D)").as("p50_exact"),
        expr("percentile(v, 0.9D)").as("p90_exact"))
      val eps = lit(3 * graft.plans.KllAggregate.normalizedRankError(200))
      sk.join(exact, "lang")
        .select(col("lang"), col("n_rows"),
          round2(col("p50_exact")).as("p50_exact"),
          round2(col("p90_exact")).as("p90_exact"),
          (abs(graft.operators.SketchStats.kllRank(col("sketch"),
            col("p50_exact")) - 0.5) <= eps).as("p50_rank_ok"),
          (abs(graft.operators.SketchStats.kllRank(col("sketch"),
            col("p90_exact")) - 0.9) <= eps).as("p90_rank_ok"))
        .orderBy("lang")
    },
    None)

  private val x74 = DeclaredQuery("x74_reward_model",
    // reward-model training END TO END (the InstructGPT recipe on
    // inspectable linear features): quality-score preference pairs per
    // source (x72's bestVsRest) → Bradley–Terry training frame
    // (symmetrized feature differences, Preferences.rewardModelTrainingFrame)
    // → logistic fit (x57's trainer) → score EVERY candidate and report
    // per-source pairwise accuracy. ORACLED (r17, the x57 recursion
    // technique): the whole chain is SQL-expressible — the x04b quality
    // replay ranks the pairs, a symmetrized-diff frame feeds the same
    // WITH RECURSIVE GD iterate, and the 6-decimal coefficient pin makes
    // the reward comparisons bit-identical. The flags stay SELF-VALIDATING
    // and honestly stated: the quality target is NOT linear in the
    // signals, so per-source accuracy is flagged at better-than-chance
    // (≥ 0.5), the corpus-wide accuracy at ≥ 0.85 (measured ~0.92), and
    // the bias pinned ≈ 0 by the symmetrized objective. PreferencesSpec
    // pins the frame's symmetry and a SEPARABLE fixture at accuracy
    // exactly 1.0 — the clean-room version of the same claim.
    (s, d) => {
      import graft.functions.{Scrub, TextAnalysis}
      val feats = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          Scrub.gopherSignals(col("text")).as("sig"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        .select(col("doc_id"), col("source"),
          col("sig.n_tokens").cast("double").as("f_tokens"),
          coalesce(col("sig.mean_tok_len"), lit(0.0)).as("f_mean_len"),
          col("sig.symbol_word_ratio").as("f_sym"),
          col("sig.alpha_token_frac").as("f_alpha"),
          col("sig.stopword_hits").cast("double").as("f_stop"),
          col("q"))
        .localCheckpoint(true)
      val pairs = graft.operators.Preferences.bestVsRest(
          feats, "source", "doc_id", col("q"), minMargin = 0.02)
        .localCheckpoint(true) // consumed twice: training frame + accuracy
      val fcols = Seq("f_tokens", "f_mean_len", "f_sym", "f_alpha", "f_stop")
      val frame = graft.operators.Preferences.rewardModelTrainingFrame(
        pairs, feats, "doc_id", fcols)
      val m = graft.operators.LogisticRegression.train(
        frame, fcols.map("d_" + _), "y", iters = 15)
      // the x57 coefficient pin: 6-decimal rounding on both engines makes
      // the reward margins (and so every rc > rr comparison) bit-identical
      def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      val reward = m.weights.foldLeft(lit(r6(m.bias)): org.apache.spark.sql.Column) {
        case (acc, (c, wj)) => acc + lit(r6(wj)) * col(c.stripPrefix("d_"))
      }
      val scored = feats.select(col("doc_id"), reward.as("__r"))
      val evals = pairs
        .join(scored.select(col("doc_id").as("chosen_id"), col("__r").as("__rc")),
          Seq("chosen_id"))
        .join(scored.select(col("doc_id").as("rejected_id"), col("__r").as("__rr")),
          Seq("rejected_id"))
        .select(col("source"),
          when(col("__rc") > col("__rr"), 1.0).otherwise(0.0).as("__c"))
        .localCheckpoint(true) // consumed by the overall AND per-source aggs
      val overall = evals.agg(sum("__c") / count(lit(1))).head().getDouble(0)
      evals.groupBy("source")
        .agg(count(lit(1)).as("n_pairs"),
          round4(sum(col("__c")) / count(lit(1))).as("accuracy"))
        .select(col("source"), col("n_pairs"), col("accuracy"),
          (col("accuracy") >= 0.5).as("beats_chance"),
          round4(lit(overall)).as("overall_accuracy"),
          lit(overall >= 0.85).as("overall_ok"),
          lit(math.abs(m.bias) < 1e-6).as("bias_ok"))
        .orderBy("source")
    },
    Some(X74OracleSql))

  private val x75 = DeclaredQuery("x75_vocab_coverage",
    // top-K vocabulary coverage curve (Relevance.vocabCoverage): the
    // tokenizer-design read "how much of the corpus does a K-entry vocab
    // cover". One vocabulary-keyed count shuffle + a TakeOrdered head;
    // the rank window runs over <= max(K) rows only. Exact integers and
    // one division — oracled without rounding.
    (s, d) => graft.operators.Relevance
      .vocabCoverage(t(s, d, "documents"), "text", Seq(10, 100, 1000))
      .orderBy("k"),
    Some("""WITH tok AS (
  SELECT lower(t) AS term FROM (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
      x -> length(x) > 0)) AS t FROM documents)),
c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM c),
r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank,
        CAST(SUM(c) OVER (ORDER BY c DESC, term
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM c),
k(k) AS (VALUES (10), (100), (1000)),
cov AS (SELECT k, MAX(cum) AS covered_tokens FROM k JOIN r ON r.rank <= k
        GROUP BY k)
SELECT k, covered_tokens, tot AS total_tokens,
       CAST(covered_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS coverage
FROM cov CROSS JOIN total ORDER BY k"""))

  private val x76 = DeclaredQuery("x76_embedding_drift",
    // embedding-space drift (Profiling.embeddingCentroidDrift): centroid
    // cosine / L2 / norm ratio between two corpus halves — the
    // representation-shift alarm next to the scalar PSI (x39) and the
    // vocabulary JSD (x43). Per side one dimension-keyed mean aggregation
    // (D-row frames, never corpus-sized), a D-row join, a 1-row
    // reduction; 4-decimal rounded (double sums fold in engine order —
    // the correlation-matrix contract), oracled by the same spelling.
    (s, d) => {
      val emb = t(s, d, "embeddings")
      graft.operators.Profiling.embeddingCentroidDrift(
        emb.where(pmod(col("vec_id"), lit(2)) === 0),
        emb.where(pmod(col("vec_id"), lit(2)) === 1), "embedding")
    },
    Some("""WITH a AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id % 2 = 0 AND embedding IS NOT NULL),
am AS (SELECT dim, AVG(x) AS a FROM a GROUP BY dim),
b AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id % 2 = 1 AND embedding IS NOT NULL),
bm AS (SELECT dim, AVG(x) AS b FROM b GROUP BY dim),
j AS (SELECT am.a, bm.b FROM am JOIN bm USING (dim)),
agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dims, SUM(a * b) AS dot,
               SUM(a * a) AS na, SUM(b * b) AS nb,
               SUM((a - b) * (a - b)) AS d2 FROM j)
SELECT n_dims,
       FLOOR(dot / SQRT(na * nb) * 10000 + 0.5) / 10000 AS centroid_cosine,
       FLOOR(SQRT(d2) * 10000 + 0.5) / 10000 AS centroid_l2,
       FLOOR(SQRT(nb / na) * 10000 + 0.5) / 10000 AS norm_ratio
FROM agg"""))

  private val x77 = DeclaredQuery("x77_padding_audit",
    // padding-efficiency audit (Packing.paddingAudit): pad-to-longest
    // waste of 32-row batches under the reproducible shuffled order
    // (x25's sha256 spec) vs length-sorted order — the number that
    // decides whether a length-bucketing sampler is worth its bias. The
    // global row index is a RangeScan, never a single-partition window;
    // the ORACLE is the ROW_NUMBER window spelling, so the hash match
    // re-proves recipe ≡ window (the x63 contract) on a second
    // construction. Exact integers + one division.
    (s, d) => graft.operators.Packing.paddingAudit(
        t(s, d, "documents"), "doc_id",
        size(split(col("text"), " ")).cast("long"),
        batchSize = 32, salt = "b1")
      .orderBy("ordering"),
    Some("""WITH t AS (
  SELECT doc_id, CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n
  FROM documents),
sh AS (SELECT n, CAST(FLOOR((ROW_NUMBER() OVER (
         ORDER BY sha256(CAST(doc_id AS VARCHAR) || ':b1'), doc_id) - 1)
         / 32) AS BIGINT) AS b FROM t),
so AS (SELECT n, CAST(FLOOR((ROW_NUMBER() OVER (ORDER BY n, doc_id) - 1)
         / 32) AS BIGINT) AS b FROM t),
per AS (
  SELECT 'shuffled' AS ordering, b, MAX(n) AS mx, COUNT(*) AS c, SUM(n) AS s
  FROM sh GROUP BY b
  UNION ALL
  SELECT 'sorted', b, MAX(n), COUNT(*), SUM(n) FROM so GROUP BY b)
SELECT ordering, CAST(COUNT(*) AS BIGINT) AS n_batches,
       CAST(SUM(s) AS BIGINT) AS total_tokens,
       CAST(SUM(mx * c) AS BIGINT) AS padded_tokens,
       1.0 - CAST(SUM(s) AS DOUBLE) / CAST(SUM(mx * c) AS DOUBLE) AS waste_ratio
FROM per GROUP BY ordering ORDER BY ordering"""))

  private val x81 = DeclaredQuery("x81_fim_examples",
    // fill-in-the-middle example construction (Fim.fimExamples, Bavarian
    // et al. 2022): half the corpus hash-gated into PSM-order
    // (prefix/suffix/middle) infilling examples, split points drawn
    // content-keyed over token boundaries — map-only, scan-fused, no
    // shuffle. ORACLED end to end including the serialized strings: the
    // gating and both split points are the shared sha256-prefix
    // arithmetic with its DuckDB spelling, and the slicing/joining is
    // pure list arithmetic both engines express exactly. FimSpec pins
    // the splice roundtrip (prefix ++ middle ++ suffix ≡ original) and
    // driver-replay parity.
    (s, d) => graft.operators.Fim
      .fimExamples(t(s, d, "documents"), "doc_id", "text", fimFraction = 0.5)
      .orderBy("doc_id"),
    Some("""WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
h AS (
  SELECT doc_id, toks, len(toks) AS n,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':fim:r'), 1, 8))::BIGINT / 4294967296.0 < 0.5 AS is_fim,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':fim:a'), 1, 8))::BIGINT AS ha,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':fim:b'), 1, 8))::BIGINT AS hb
  FROM tk),
ab AS (SELECT *, CAST(ha % (n + 1) AS INTEGER) AS a FROM h),
ab2 AS (SELECT *, a + CAST(hb % (n - a + 1) AS INTEGER) AS b FROM ab),
parts AS (
  SELECT doc_id, is_fim, n,
         COALESCE(array_to_string(toks[1:a], ' '), '') AS p,
         COALESCE(array_to_string(toks[a+1:b], ' '), '') AS m,
         COALESCE(array_to_string(toks[b+1:n], ' '), '') AS sfx,
         COALESCE(array_to_string(toks, ' '), '') AS plain,
         array_to_string(['<fim_pre>'] || toks[1:a] || ['<fim_suf>'] || toks[b+1:n] || ['<fim_mid>'] || toks[a+1:b], ' ') AS psm
  FROM ab2)
SELECT doc_id, is_fim,
       CASE WHEN is_fim THEN p ELSE '' END AS prefix,
       CASE WHEN is_fim THEN m ELSE '' END AS middle,
       CASE WHEN is_fim THEN sfx ELSE '' END AS suffix,
       CASE WHEN is_fim THEN psm ELSE plain END AS fim_text,
       CAST(n AS BIGINT) AS n_tokens
FROM parts ORDER BY doc_id"""))

  private val x82 = DeclaredQuery("x82_calibration_bins",
    // classifier-calibration reliability bins (Calibration, Naeini AAAI'15
    // / Guo ICML'17): ONE corpus pass — an equal-width bin groupBy with
    // count/Σp/Σy/Σ(p−y)² partials — then arithmetic on ≤10 rows. The
    // probe prediction is a content-keyed uniform hash and the label a
    // Bernoulli(p) draw from an independent hash, so the input is
    // perfectly calibrated BY CONSTRUCTION and the bins read the
    // estimator itself (finite-sample gaps included) in exact arithmetic
    // both engines share; real-model usage (LR scores, Scoring margins)
    // is spec-pinned. Double bin sums are canonicalized round4.
    (s, d) => {
      import graft.operators.{Calibration, Sampling}
      val probed = t(s, d, "documents").select(col("doc_id"),
          Sampling.hashUnit(concat_ws(":", col("doc_id"), lit("cal"), lit("p")))
            .as("p"))
        .withColumn("y",
          (Sampling.hashUnit(concat_ws(":", col("doc_id"), lit("cal"), lit("y")))
            < col("p")).cast("double"))
      Calibration.reliabilityBins(probed, "p", "y", nBins = 10)
        .select(col("bin").cast("long").as("bin"), col("n"),
          round4(col("conf")).as("conf"),
          round4(col("acc")).as("acc"), round4(col("gap")).as("gap"))
        .orderBy("bin")
    },
    Some("""WITH probed AS (
  SELECT doc_id,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':cal:p'), 1, 8))::BIGINT / 4294967296.0 AS p,
         CASE WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':cal:y'), 1, 8))::BIGINT / 4294967296.0
                   < ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':cal:p'), 1, 8))::BIGINT / 4294967296.0
              THEN 1.0 ELSE 0.0 END AS y
  FROM documents),
b AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n, SUM(p) AS sp, SUM(y) AS sy
  FROM probed GROUP BY 1)
SELECT bin, n,
       FLOOR(sp / n * 10000 + 0.5) / 10000 AS conf,
       FLOOR(sy / n * 10000 + 0.5) / 10000 AS acc,
       FLOOR((sp - sy) / n * 10000 + 0.5) / 10000 AS gap
FROM b ORDER BY bin"""))

  private val x83 = DeclaredQuery("x83_curriculum_schedule",
    // competence-based curriculum (Curriculum.competenceSchedule,
    // Platanios NAACL'19): global ascending-difficulty rank via
    // a RangeScan (never a single-partition global sort, the same shape
    // the x36 family pins), then the closed-form inverse of
    // the √-competence schedule per row. Difficulty = n_chars with id
    // tie-breaks; ranks are exact ints and pr/release are fixed IEEE
    // expressions of them (c0 = 0.25 so c0² and 1−c0² are exact
    // doubles), so the entry needs no rounding. The oracle IS the
    // single-window spelling, pinning the recipe's equivalence.
    (s, d) => graft.operators.Curriculum
      .competenceSchedule(t(s, d, "documents"), "doc_id", "n_chars",
        steps = 20, c0 = 0.25)
      .select(col("doc_id"), col("rank"), col("pr"), col("release_step"))
      .orderBy("doc_id"),
    Some("""WITH r AS (
  SELECT doc_id,
         CAST(ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM documents),
p AS (SELECT doc_id, rank, CAST(rank AS DOUBLE) / CAST(n AS DOUBLE) AS pr FROM r)
SELECT doc_id, rank, pr,
       GREATEST(CAST(1 AS BIGINT),
         CAST(CEIL(20.0 * (pr * pr - 0.0625) / 0.9375) AS BIGINT)) AS release_step
FROM p ORDER BY doc_id"""))

  private val x84 = DeclaredQuery("x84_source_ablation",
    // leave-one-group-out ablation (Ablation.leaveOneOut, the jackknife
    // shape at group granularity): which language pulls the corpus mean
    // document length, and which way — ONE metric-keyed aggregation pass
    // (K rows out) + a broadcast join against its own 1-row total; every
    // leave-one-out mean is closed-form (S−s_g)/(N−n_g), no group ever
    // rescanned. n_chars sums are exact integers, so all the means and
    // deltas are exact double divisions — oracled with no rounding.
    (s, d) => graft.operators.Ablation
      .leaveOneOut(t(s, d, "documents"), "lang", "n_chars")
      .orderBy("lang"),
    Some("""WITH g AS (
  SELECT lang, CAST(COUNT(n_chars) AS BIGINT) AS n,
         CAST(SUM(n_chars) AS DOUBLE) AS s
  FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, SUM(s) AS ts FROM g)
SELECT lang, n,
       s / n AS mean_in,
       ts / tn AS mean_all,
       CASE WHEN tn > n THEN (ts - COALESCE(s, 0)) / (tn - n) END AS mean_without,
       CASE WHEN tn > n THEN ts / tn - (ts - COALESCE(s, 0)) / (tn - n) END AS delta
FROM g CROSS JOIN t ORDER BY lang"""))

  private val x85 = DeclaredQuery("x85_repetition_signals",
    // the assembled ONE-PASS Gopher repetition sweep (Repetition.signals —
    // the production face of the x04g/x38/x38b per-signal primitives):
    // duplicate line/paragraph fractions, top-n-gram char fractions
    // (n=2..4), and duplicate-n-gram POSITIONAL-coverage char fractions
    // (n=5..10, each token position counted once), plus the keep
    // conjunction at the paper's bounds — map-only per-position explodes
    // (one max-length gram per position, shorter n substring_index'd off
    // it) with xxhash64 8-byte keys through the heavy counting shuffle;
    // no window, no checkpoint (the lead-window spelling OOM'd the 100×
    // smoke — see Repetition.scala + SCALE_SMOKE.md).
    // The synthetic corpus has no newlines, so the entry
    // injects structure the same way x64 injects punctuation: a paragraph
    // break every 16 words, then a line break every 2 words — the 31-word
    // vocabulary then yields real within-doc duplicate lines and a dense
    // duplicated-n-gram field. Every fraction is one IEEE division of
    // exact integer sums, so the entry is oracled with NO rounding; the
    // oracle replays unit grouping, the deterministic top-gram argmax
    // (count, chars, gram — ORDER BY ... DESC LIMIT 1), and the
    // distinct-position coverage in DuckDB list arithmetic.
    (s, d) => {
      // r20: signals() traverses the text ~5× (two unit explodes, the
      // token pass, position lengths), each re-running the two regex
      // structurings — at gate scale all of it on the scan's ONE
      // partition. spread() puts every traversal's regex+tokenize CPU on
      // all cores (no-op at corpus scale); per-doc integer sums and the
      // max(struct) argmax are partitioning-invariant (oracle unchanged).
      val structured = spread(t(s, d, "documents")).withColumn("text",
        regexp_replace(
          regexp_replace(col("text"), "((?:\\S+\\s+){15}\\S+)\\s+", "$1\n\n"),
          "((?:\\S+[ ]+){1}\\S+)[ ]+", "$1\n"))
      graft.operators.Repetition.signals(structured, "doc_id", "text")
        .withColumn("keep", graft.operators.Repetition.keep())
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '((?:\S+\s+){15}\S+)\s+', '\1' || chr(10) || chr(10), 'g'),
           '((?:\S+[ ]+){1}\S+)[ ]+', '\1' || chr(10), 'g') AS text
  FROM documents),
lu AS (SELECT doc_id, trim(u) AS u FROM
        (SELECT doc_id, unnest(regexp_split_to_array(text, '\n')) AS u FROM d)
       WHERE length(trim(u)) > 0),
pu AS (SELECT doc_id, trim(u) AS u FROM
        (SELECT doc_id, unnest(regexp_split_to_array(text, '\n{2,}')) AS u FROM d)
       WHERE length(trim(u)) > 0),
lc AS (SELECT doc_id, u, count(*) AS c, length(u) AS len FROM lu GROUP BY 1, 2),
pc AS (SELECT doc_id, u, count(*) AS c, length(u) AS len FROM pu GROUP BY 1, 2),
lf AS (SELECT doc_id,
         CASE WHEN sum(c) > 0 THEN sum(c - 1)::DOUBLE / sum(c)::DOUBLE ELSE 0 END AS dup_line_frac,
         CASE WHEN sum(c * len) > 0 THEN sum((c - 1) * len)::DOUBLE / sum(c * len)::DOUBLE ELSE 0 END AS dup_line_char_frac
       FROM lc GROUP BY 1),
pf AS (SELECT doc_id,
         CASE WHEN sum(c) > 0 THEN sum(c - 1)::DOUBLE / sum(c)::DOUBLE ELSE 0 END AS dup_para_frac,
         CASE WHEN sum(c * len) > 0 THEN sum((c - 1) * len)::DOUBLE / sum(c * len)::DOUBLE ELSE 0 END AS dup_para_char_frac
       FROM pc GROUP BY 1),
tk AS (SELECT doc_id, toks, len(toks) AS nt FROM
        (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks FROM d)),
pos AS (SELECT doc_id, toks, nt, unnest(range(1, nt + 1)) AS i FROM tk),
tot AS (SELECT doc_id, sum(length(toks[i])) AS tokchars FROM pos GROUP BY 1),
ng AS (SELECT doc_id, n, i, array_to_string(toks[i:i + n - 1], ' ') AS g
       FROM pos CROSS JOIN (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n) nn
       WHERE i + n - 1 <= nt),
cnt AS (SELECT doc_id, n, g, count(*) AS c FROM ng GROUP BY 1, 2, 3),
top1 AS (SELECT doc_id, n, c, chars FROM
          (SELECT doc_id, n, c, length(g) - (n - 1) AS chars,
                  ROW_NUMBER() OVER (PARTITION BY doc_id, n
                    ORDER BY c DESC, length(g) - (n - 1) DESC, g DESC) AS rn
           FROM cnt WHERE n IN (2, 3, 4))
         WHERE rn = 1),
topp AS (SELECT t1.doc_id,
           MAX(CASE WHEN n = 2 THEN (c * chars)::DOUBLE / tokchars::DOUBLE END) AS top_2gram_char_frac,
           MAX(CASE WHEN n = 3 THEN (c * chars)::DOUBLE / tokchars::DOUBLE END) AS top_3gram_char_frac,
           MAX(CASE WHEN n = 4 THEN (c * chars)::DOUBLE / tokchars::DOUBLE END) AS top_4gram_char_frac
         FROM top1 t1 JOIN tot USING (doc_id) GROUP BY 1),
dupk AS (SELECT doc_id, n, g FROM cnt WHERE n >= 5 AND c > 1),
cov AS (SELECT DISTINCT doc_id, n, p FROM
         (SELECT ng.doc_id, ng.n, unnest(range(ng.i, ng.i + ng.n)) AS p
          FROM ng JOIN dupk USING (doc_id, n, g))),
covc AS (SELECT cov.doc_id, cov.n, sum(length(tk.toks[cov.p])) AS covchars
         FROM cov JOIN tk USING (doc_id) GROUP BY 1, 2),
dupp AS (SELECT covc.doc_id,
           MAX(CASE WHEN n = 5 THEN covchars::DOUBLE / tokchars::DOUBLE END) AS dup_5gram_char_frac,
           MAX(CASE WHEN n = 6 THEN covchars::DOUBLE / tokchars::DOUBLE END) AS dup_6gram_char_frac,
           MAX(CASE WHEN n = 7 THEN covchars::DOUBLE / tokchars::DOUBLE END) AS dup_7gram_char_frac,
           MAX(CASE WHEN n = 8 THEN covchars::DOUBLE / tokchars::DOUBLE END) AS dup_8gram_char_frac,
           MAX(CASE WHEN n = 9 THEN covchars::DOUBLE / tokchars::DOUBLE END) AS dup_9gram_char_frac,
           MAX(CASE WHEN n = 10 THEN covchars::DOUBLE / tokchars::DOUBLE END) AS dup_10gram_char_frac
         FROM covc JOIN tot USING (doc_id) GROUP BY 1),
sig AS (SELECT d.doc_id,
         COALESCE(dup_line_frac, 0) AS dup_line_frac,
         COALESCE(dup_line_char_frac, 0) AS dup_line_char_frac,
         COALESCE(dup_para_frac, 0) AS dup_para_frac,
         COALESCE(dup_para_char_frac, 0) AS dup_para_char_frac,
         COALESCE(top_2gram_char_frac, 0) AS top_2gram_char_frac,
         COALESCE(top_3gram_char_frac, 0) AS top_3gram_char_frac,
         COALESCE(top_4gram_char_frac, 0) AS top_4gram_char_frac,
         COALESCE(dup_5gram_char_frac, 0) AS dup_5gram_char_frac,
         COALESCE(dup_6gram_char_frac, 0) AS dup_6gram_char_frac,
         COALESCE(dup_7gram_char_frac, 0) AS dup_7gram_char_frac,
         COALESCE(dup_8gram_char_frac, 0) AS dup_8gram_char_frac,
         COALESCE(dup_9gram_char_frac, 0) AS dup_9gram_char_frac,
         COALESCE(dup_10gram_char_frac, 0) AS dup_10gram_char_frac
       FROM d LEFT JOIN lf USING (doc_id) LEFT JOIN pf USING (doc_id)
              LEFT JOIN topp USING (doc_id) LEFT JOIN dupp USING (doc_id))
SELECT *,
       (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
        AND top_4gram_char_frac <= 0.16
        AND dup_5gram_char_frac <= 0.15 AND dup_6gram_char_frac <= 0.14
        AND dup_7gram_char_frac <= 0.13 AND dup_8gram_char_frac <= 0.12
        AND dup_9gram_char_frac <= 0.11 AND dup_10gram_char_frac <= 0.10) AS keep
FROM sig ORDER BY doc_id"""))

  private val x87 = DeclaredQuery("x87_corpus_report",
    // the one-call corpus report card (Profiling.corpusReport): the fixed
    // (metric, value) contract a pipeline stamps on every data drop —
    // volume, exact length quantiles (a RangeScan, never a
    // single-partition sort), language mix + entropy, exact-dup fraction
    // on the fingerprint normalization, source concentration. Integer-
    // derived metrics are exact; the entropy is a k-term double sum —
    // round4 canonicalizes uniformly. The oracle recomputes every metric
    // independently (QUANTILE_CONT shares the h=(n-1)p interpolation).
    (s, d) => graft.operators.Profiling
      .corpusReport(t(s, d, "documents"), "doc_id", "text", "lang",
        "source", "n_chars")
      .select(col("metric"), round4(col("value")).as("value"))
      .orderBy("metric"),
    Some("""WITH t AS (
  SELECT doc_id, lang, source, n_chars,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS nt,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
  FROM documents),
g AS (SELECT count(*) AS n, SUM(nt) AS toks, SUM(n_chars) AS chars,
             COUNT(DISTINCT norm) AS nd,
             QUANTILE_CONT(nt, 0.5) AS p50, QUANTILE_CONT(nt, 0.9) AS p90
      FROM t),
lc AS (SELECT lang, count(*) AS c FROM t GROUP BY 1),
e AS (SELECT COUNT(*) AS nl,
             SUM(-(c::DOUBLE / (SELECT n FROM g))
                 * ln(c::DOUBLE / (SELECT n FROM g))) AS ent
      FROM lc),
sc AS (SELECT MAX(c) AS mx FROM
        (SELECT source, count(*) AS c FROM t GROUP BY 1))
SELECT metric, FLOOR(value * 10000 + 0.5) / 10000 AS value FROM (
  SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM g
  UNION ALL SELECT 'total_tokens', toks::DOUBLE FROM g
  UNION ALL SELECT 'mean_doc_tokens', toks::DOUBLE / n FROM g
  UNION ALL SELECT 'p50_doc_tokens', p50 FROM g
  UNION ALL SELECT 'p90_doc_tokens', p90 FROM g
  UNION ALL SELECT 'total_chars', chars::DOUBLE FROM g
  UNION ALL SELECT 'mean_doc_chars', chars::DOUBLE / n FROM g
  UNION ALL SELECT 'n_langs', nl::DOUBLE FROM e
  UNION ALL SELECT 'lang_entropy_nats', ent FROM e
  UNION ALL SELECT 'exact_dup_frac', 1.0 - nd::DOUBLE / n FROM g
  UNION ALL SELECT 'top_source_share', mx::DOUBLE / (SELECT n FROM g) FROM sc)
ORDER BY metric"""))

  private val x88 = DeclaredQuery("x88_crop_pairs",
    // contrastive positive-pair construction (Contrastive.cropPairs,
    // Contriever's independent cropping made content-keyed): two
    // deterministic token crops per document — length fraction and start
    // offset are sha256-prefix arithmetic, map-only slice/join, no
    // shuffle. ORACLED end to end including the crop strings and the
    // exact token-position overlap; the oracle spells the fraction band
    // as (0.5 - 0.1), the same IEEE subtraction the operator computes, so
    // the floor() boundary is bit-identical.
    (s, d) => graft.operators.Contrastive
      .cropPairs(t(s, d, "documents"), "doc_id", "text",
        minFrac = 0.1, maxFrac = 0.5)
      .orderBy("doc_id"),
    Some("""WITH tk AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS toks
  FROM documents),
h AS (
  SELECT doc_id, toks, len(toks) AS n,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':crop:al'), 1, 8))::BIGINT / 4294967296.0 AS ua,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':crop:bl'), 1, 8))::BIGINT / 4294967296.0 AS ub,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':crop:as'), 1, 8))::BIGINT AS ha,
         ('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':crop:bs'), 1, 8))::BIGINT AS hb
  FROM tk),
l AS (SELECT *,
        CASE WHEN n = 0 THEN 0 ELSE GREATEST(1, CAST(FLOOR(CAST(n AS DOUBLE) * (0.1 + ua * (0.5 - 0.1))) AS INTEGER)) END AS la,
        CASE WHEN n = 0 THEN 0 ELSE GREATEST(1, CAST(FLOOR(CAST(n AS DOUBLE) * (0.1 + ub * (0.5 - 0.1))) AS INTEGER)) END AS lb
      FROM h),
s AS (SELECT *,
        CASE WHEN n = 0 THEN 0 ELSE CAST(ha % (n - la + 1) AS INTEGER) END AS sa,
        CASE WHEN n = 0 THEN 0 ELSE CAST(hb % (n - lb + 1) AS INTEGER) END AS sb
      FROM l)
SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(sa AS BIGINT) AS a_start, CAST(la AS BIGINT) AS a_len,
       CAST(sb AS BIGINT) AS b_start, CAST(lb AS BIGINT) AS b_len,
       COALESCE(array_to_string(toks[sa + 1:sa + la], ' '), '') AS crop_a,
       COALESCE(array_to_string(toks[sb + 1:sb + lb], ' '), '') AS crop_b,
       CAST(GREATEST(0, LEAST(sa + la, sb + lb) - GREATEST(sa, sb)) AS BIGINT) AS overlap_tokens
FROM s ORDER BY doc_id"""))

  private val x89 = DeclaredQuery("x89_ann_recall",
    // ANN index SELF-EVALUATION (SimilaritySearch.recallAtK): per-query
    // recall@10 of the IVF index against the brute-force ground truth —
    // the acceptance test every deployed index owes its users, run as a
    // pipeline operator. Rows-only (IVF probe sets aren't SQL-replayable;
    // x03c precedent) but SELF-VALIDATING: a second search probing ALL
    // nlist cells is exhaustive by construction, so its per-query recall
    // must be exactly 1.0 — carried as full_probe_exact, a flag that
    // breaks if cell assignment, probe routing, or ranking regress. The
    // informative recall_probe3 column reports what nprobe=3 actually
    // buys on this corpus.
    (s, d) => {
      import graft.operators.SimilaritySearch
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val e = spread(t(s, d, "embeddings"))
      val qs = e.where(col("vec_id") < 25)
      val exact = SimilaritySearch.topKAll(e, qs, "vec_id", "embedding",
        "vec_id", k = 10)
      val cents = SimilaritySearch.trainIvf(e, "vec_id", "embedding",
        nlist = 16, refineIters = 2)
      def probe(p: Int) = SimilaritySearch.ivfSearch(cents, e, qs,
        "vec_id", "embedding", "vec_id", k = 10, nprobe = p)
      SimilaritySearch.recallAtK(exact, probe(3), 10)
        .withColumnRenamed("recall", "recall_probe3")
        .join(SimilaritySearch.recallAtK(exact, probe(16), 10)
          .select(col("query_id"), (col("recall") === 1.0)
            .as("full_probe_exact")), "query_id")
        .orderBy("query_id")
    },
    None)

  private val x90 = DeclaredQuery("x90_tokenizer_fertility",
    // per-language tokenizer fertility (Profiling.tokenizerFertility):
    // subwords per word and chars per subword by language — the
    // context-window/training-cost table a multilingual mix decision
    // reads. Subwords are bpeishTokenCount's lookaround split, which RE2
    // can't spell — but the count is provably (maximal alnum runs) +
    // (non-alnum non-space chars), which DuckDB CAN spell, so the gate
    // hash pins the two spellings' equivalence on real data. The entry
    // injects x64's punctuation (the synthetic corpus has none), making
    // fertility > 1. Exact integer sums, exact divisions — no rounding.
    (s, d) => {
      val punctuated = t(s, d, "documents").withColumn("text",
        regexp_replace(col("text"), "((?:\\S+\\s+){5}\\S+)\\s+", "$1. "))
      graft.operators.Profiling
        .tokenizerFertility(punctuated, "lang", "text")
        .orderBy("lang")
    },
    Some("""WITH pd AS (
  SELECT lang, regexp_replace(text, '((?:\S+\s+){5}\S+)\s+', '\1. ', 'g') AS text
  FROM documents),
t AS (SELECT lang,
        len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS w,
        len(regexp_extract_all(text, '[\p{L}\p{N}]+'))
          + length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS sw,
        length(text) AS ch
      FROM pd)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(sw) AS BIGINT) AS n_subwords,
       SUM(sw)::DOUBLE / SUM(w)::DOUBLE AS fertility,
       SUM(ch)::DOUBLE / SUM(sw)::DOUBLE AS chars_per_subword
FROM t GROUP BY lang ORDER BY lang"""))

  private val x91 = DeclaredQuery("x91_report_diff",
    // drop-over-drop report comparison (Profiling.reportDiff over two
    // corpusReport frames) — the diff the report card exists to feed: the
    // corpus split into two deterministic "drops" (doc_id parity), each
    // reported, then joined full-outer per metric with delta and ratio.
    // The oracle recomputes BOTH reports independently and the same diff
    // arithmetic; all four numeric columns round4-canonicalized (deltas
    // of k-term double sums inherit the entropy contract).
    (s, d) => {
      val docs = t(s, d, "documents")
      def rep(par: Int) = graft.operators.Profiling.corpusReport(
        docs.where(col("doc_id") % 2 === par),
        "doc_id", "text", "lang", "source", "n_chars")
      graft.operators.Profiling.reportDiff(rep(0), rep(1))
        .select(col("metric"),
          round4(col("prev_value")).as("prev_value"),
          round4(col("cur_value")).as("cur_value"),
          round4(col("delta")).as("delta"),
          round4(col("ratio")).as("ratio"))
        .orderBy("metric")
    },
    Some("""WITH
ta AS (SELECT doc_id, lang, source, n_chars,
        len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS nt,
        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id % 2 = 0),
ga AS (SELECT count(*) AS n, SUM(nt) AS toks, SUM(n_chars) AS chars,
              COUNT(DISTINCT norm) AS nd,
              QUANTILE_CONT(nt, 0.5) AS p50, QUANTILE_CONT(nt, 0.9) AS p90
       FROM ta),
la AS (SELECT lang, count(*) AS c FROM ta GROUP BY 1),
ea AS (SELECT COUNT(*) AS nl,
              SUM(-(c::DOUBLE / (SELECT n FROM ga)) * ln(c::DOUBLE / (SELECT n FROM ga))) AS ent
       FROM la),
sa AS (SELECT MAX(c) AS mx FROM (SELECT source, count(*) AS c FROM ta GROUP BY 1)),
ra AS (
  SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM ga
  UNION ALL SELECT 'total_tokens', toks::DOUBLE FROM ga
  UNION ALL SELECT 'mean_doc_tokens', toks::DOUBLE / n FROM ga
  UNION ALL SELECT 'p50_doc_tokens', p50 FROM ga
  UNION ALL SELECT 'p90_doc_tokens', p90 FROM ga
  UNION ALL SELECT 'total_chars', chars::DOUBLE FROM ga
  UNION ALL SELECT 'mean_doc_chars', chars::DOUBLE / n FROM ga
  UNION ALL SELECT 'n_langs', nl::DOUBLE FROM ea
  UNION ALL SELECT 'lang_entropy_nats', ent FROM ea
  UNION ALL SELECT 'exact_dup_frac', 1.0 - nd::DOUBLE / n FROM ga
  UNION ALL SELECT 'top_source_share', mx::DOUBLE / (SELECT n FROM ga) FROM sa),
tb AS (SELECT doc_id, lang, source, n_chars,
        len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS nt,
        lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm
      FROM documents WHERE doc_id % 2 = 1),
gb AS (SELECT count(*) AS n, SUM(nt) AS toks, SUM(n_chars) AS chars,
              COUNT(DISTINCT norm) AS nd,
              QUANTILE_CONT(nt, 0.5) AS p50, QUANTILE_CONT(nt, 0.9) AS p90
       FROM tb),
lb AS (SELECT lang, count(*) AS c FROM tb GROUP BY 1),
eb AS (SELECT COUNT(*) AS nl,
              SUM(-(c::DOUBLE / (SELECT n FROM gb)) * ln(c::DOUBLE / (SELECT n FROM gb))) AS ent
       FROM lb),
sb AS (SELECT MAX(c) AS mx FROM (SELECT source, count(*) AS c FROM tb GROUP BY 1)),
rb AS (
  SELECT 'n_docs' AS metric, n::DOUBLE AS value FROM gb
  UNION ALL SELECT 'total_tokens', toks::DOUBLE FROM gb
  UNION ALL SELECT 'mean_doc_tokens', toks::DOUBLE / n FROM gb
  UNION ALL SELECT 'p50_doc_tokens', p50 FROM gb
  UNION ALL SELECT 'p90_doc_tokens', p90 FROM gb
  UNION ALL SELECT 'total_chars', chars::DOUBLE FROM gb
  UNION ALL SELECT 'mean_doc_chars', chars::DOUBLE / n FROM gb
  UNION ALL SELECT 'n_langs', nl::DOUBLE FROM eb
  UNION ALL SELECT 'lang_entropy_nats', ent FROM eb
  UNION ALL SELECT 'exact_dup_frac', 1.0 - nd::DOUBLE / n FROM gb
  UNION ALL SELECT 'top_source_share', mx::DOUBLE / (SELECT n FROM gb) FROM sb)
SELECT metric,
       FLOOR(ra.value * 10000 + 0.5) / 10000 AS prev_value,
       FLOOR(rb.value * 10000 + 0.5) / 10000 AS cur_value,
       FLOOR((rb.value - ra.value) * 10000 + 0.5) / 10000 AS delta,
       CASE WHEN ra.value <> 0
            THEN FLOOR(rb.value / ra.value * 10000 + 0.5) / 10000 END AS ratio
FROM ra FULL OUTER JOIN rb USING (metric)
ORDER BY metric"""))

  private val x93 = DeclaredQuery("x93_bitext_margin_mining",
    // margin-based bitext mining (Bitext.minePairs — Artetxe & Schwenk
    // ACL'19, the CCMatrix scoring rule): embeddings split by vec_id
    // parity into two "languages", exact top-4 kNN both directions
    // (SimilaritySearch.topKAll), then each left id's best-margin partner
    // with margin = cos / (avgTopK(a)/2 + avgTopK(b)/2). graft_cosine
    // folds left-to-right, bit-identical to DuckDB's list_sum spelling;
    // the top-k averages fold a SORTED (rank, id, score) list so the
    // k-term sum is run-deterministic — engine ulps in the 4-term sum are
    // absorbed by round4, and `accepted` is derived from the ROUNDED
    // margin on both sides so the flag can never straddle the threshold.
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val e = spread(t(s, d, "embeddings"))
      val a = e.where(col("vec_id") % 2 === 0)
      val b = e.where(col("vec_id") % 2 === 1)
      val ab = graft.operators.SimilaritySearch.topKAll(
        b, a, "vec_id", "embedding", "vec_id", k = 4, excludeSelf = false)
      val ba = graft.operators.SimilaritySearch.topKAll(
        a, b, "vec_id", "embedding", "vec_id", k = 4, excludeSelf = false)
      graft.operators.Bitext.minePairs(ab, ba, minMargin = 1.05)
        .select(col("a_id"), col("b_id"),
          round4(col("score")).as("score"),
          round4(col("margin")).as("margin"),
          (round4(col("margin")) >= 1.05).as("accepted"))
        .orderBy("a_id")
    },
    Some("""WITH a AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
cosab AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
  list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
  / NULLIF(SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS score
  FROM a, b),
ab AS (SELECT a_id, b_id, score FROM
        (SELECT a_id, b_id, score,
                ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY score DESC, b_id) AS rn
         FROM cosab) WHERE rn <= 4),
ba AS (SELECT b_id, a_id, score FROM
        (SELECT b_id, a_id, score,
                ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY score DESC, a_id) AS rn
         FROM cosab) WHERE rn <= 4),
avga AS (SELECT a_id, AVG(score) AS av FROM ab GROUP BY 1),
avgb AS (SELECT b_id, AVG(score) AS bv FROM ba GROUP BY 1),
m AS (SELECT ab.a_id, ab.b_id, ab.score, ab.score / ((av + bv) / 2.0) AS margin
      FROM ab JOIN avga USING (a_id) JOIN avgb USING (b_id)),
best AS (SELECT a_id, b_id, score, margin FROM
          (SELECT m.*, ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS rn2
           FROM m) WHERE rn2 = 1)
SELECT a_id, b_id,
       FLOOR(score * 10000 + 0.5) / 10000 AS score,
       FLOOR(margin * 10000 + 0.5) / 10000 AS margin,
       FLOOR(margin * 10000 + 0.5) / 10000 >= 1.05 AS accepted
FROM best ORDER BY a_id"""))

  private val x94 = DeclaredQuery("x94_sft_chat_assembly",
    // SFT example assembly (Sft.assembleChat): conversation turns →
    // serialized chat-template string + token-range LOSS MASKS over the
    // assistant turns (loss only on assistant tokens — the InstructGPT
    // SFT convention). The synthetic corpus has no dialogues, so the
    // entry builds them the x64/x85 way: doc_id div 5 is the
    // conversation, doc_id % 5 the turn, roles system/user/assistant by
    // fixed rule. The template is whitespace-aligned by construction
    // (every turn = content tokens + 2), so all offsets are exact
    // integers; the mask covers content + <|end|>, excluding the role
    // header. Oracle rebuilds the serialization with string_agg and the
    // offsets with a running SUM window — integer arithmetic, no
    // rounding. The entry explodes the mask (one row per assistant
    // span) so the gate hashes flat scalars.
    (s, d) => {
      val turns = t(s, d, "documents").select(
        expr("doc_id div 5").as("conv_id"),
        pmod(col("doc_id"), lit(5)).cast("long").as("turn_idx"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("system"))
          .when(pmod(col("doc_id"), lit(5)) % 2 === 1, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("text").as("content"))
      graft.operators.Sft
        .assembleChat(turns, "conv_id", "turn_idx", "role", "content")
        .select(col("conv_id"), col("n_turns"), col("n_tokens"), col("text"),
          posexplode(col("mask")).as(Seq("span_idx", "span")))
        .select(col("conv_id"), col("n_turns"), col("n_tokens"), col("text"),
          col("span_idx").cast("long").as("span_idx"),
          col("span.tok_start").as("tok_start"),
          col("span.tok_end").as("tok_end"))
        .orderBy("conv_id", "span_idx")
    },
    Some("""WITH t AS (
  SELECT doc_id // 5 AS conv_id, doc_id % 5 AS turn_idx,
         CASE WHEN doc_id % 5 = 0 THEN 'system'
              WHEN (doc_id % 5) % 2 = 1 THEN 'user'
              ELSE 'assistant' END AS role,
         text AS content,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0)) AS ntoks
  FROM documents),
p AS (SELECT *, '<|' || role || '|> ' || content || ' <|end|>' AS piece,
             ntoks + 2 AS ptoks FROM t),
o AS (SELECT *,
        COALESCE(SUM(ptoks) OVER (PARTITION BY conv_id ORDER BY turn_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM p),
c AS (SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(ptoks) AS BIGINT) AS n_tokens,
             string_agg(piece, ' ' ORDER BY turn_idx) AS text
      FROM o GROUP BY conv_id),
spans AS (SELECT conv_id, off,
            CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS BIGINT) AS span_idx,
            CAST(off + 1 AS BIGINT) AS tok_start,
            CAST(off + ntoks + 2 AS BIGINT) AS tok_end
          FROM o WHERE role = 'assistant')
SELECT s.conv_id, c.n_turns, c.n_tokens, c.text, s.span_idx, s.tok_start, s.tok_end
FROM spans s JOIN c USING (conv_id)
ORDER BY conv_id, span_idx"""))

  private val x95 = DeclaredQuery("x95_remove_duplicated_spans",
    // the Lee et al. ACL'22 REWRITE (SubstringDedup.removeDuplicatedSpans,
    // keepFirst): training text with duplicated ≥k-token spans deleted,
    // keeping exactly the globally-FIRST occurrence (min (doc, pos) per
    // gram — deterministic, partitioning-invariant) — x35 only REPORTS
    // the spans; this is the text the paper trains on. Spark keys the
    // counting shuffle and the first-occurrence pick by the 64-bit gram
    // hash (one combined (count, min-struct) aggregate, map-side
    // partial); the oracle replays the definition over LITERAL gram
    // strings with a per-gram ROW_NUMBER, so a hash collision
    // (over-removal only) hash-fails the gate — the x35/x04f trick.
    (s, d) => graft.operators.SubstringDedup
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      .removeDuplicatedSpans(spread(t(s, d, "documents")), "doc_id", "text", k = 5)
      .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0) AS tk FROM documents),
pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, array_to_string(tk[i:i+4], ' ') AS g
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i FROM toks WHERE len(tk) >= 5)),
r AS (SELECT doc_id, p FROM
       (SELECT doc_id, p,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
        FROM pos) WHERE rn >= 2),
w AS (SELECT doc_id, p,
             CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 5
                  THEN 0 ELSE 1 END AS brk FROM r),
isl AS (SELECT doc_id, p, SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS island FROM w),
sp AS (SELECT doc_id, MIN(p) AS s, MAX(p) + 5 AS e FROM isl GROUP BY doc_id, island),
spl AS (SELECT doc_id, list({'s': s, 'e': e} ORDER BY s) AS sps FROM sp GROUP BY doc_id),
j AS (SELECT t.doc_id, t.tk, COALESCE(spl.sps, []) AS sps
      FROM toks t LEFT JOIN spl ON spl.doc_id = t.doc_id)
SELECT doc_id,
       -- DuckDB's array_to_string([]) is NULL; Spark's array_join is ''
       COALESCE(array_to_string(list_transform(
         list_filter(range(0, len(tk)),
           i -> len(list_filter(sps, x -> i >= x.s AND i < x.e)) = 0),
         i -> tk[i + 1]), ' '), '') AS text,
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(tk) - len(list_filter(range(0, len(tk)),
           i -> len(list_filter(sps, x -> i >= x.s AND i < x.e)) = 0)) AS BIGINT)
         AS removed_tokens
FROM j ORDER BY doc_id"""))

  private val x59 = DeclaredQuery("x59_k_anonymity",
    // k-anonymity suppression on (lang, source, length-bucket) quasi-
    // identifiers: keep only rows whose cohort reaches k=3. One hash
    // aggregation for cohort sizes + a null-safe semi join back — no
    // windows, key-bounded shuffles. Oracled exactly: the cohort
    // arithmetic is pure integer counting.
    (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("len_bucket", (col("n_chars") / 100).cast("long"))
      graft.operators.Privacy.suppressRareCombinations(
          docs, Seq("lang", "source", "len_bucket"), k = 3)
        .select(col("doc_id"), col("lang"), col("source"), col("len_bucket"))
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
  SELECT doc_id, lang, source, n_chars // 100 AS len_bucket FROM documents),
c AS (
  SELECT lang, source, len_bucket, count(*) AS n
  FROM b GROUP BY 1, 2, 3)
SELECT b.doc_id, b.lang, b.source, b.len_bucket
FROM b JOIN c USING (lang, source, len_bucket)
WHERE c.n >= 3
ORDER BY b.doc_id"""))

  private val x59b = DeclaredQuery("x59b_retention_curve",
    // the utility/privacy frontier: fraction of rows surviving suppression
    // at each candidate k, computed from ONE cohort aggregate. Exact
    // integer cohort arithmetic; the division is canonicalized with the
    // engine-stable floor spelling.
    (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("len_bucket", (col("n_chars") / 100).cast("long"))
      val row = graft.operators.Privacy.retentionCurve(
        docs, Seq("lang", "source", "len_bucket"), Seq(2L, 3L, 5L))
      row.select(
        (floor(col("retained_k2") * 1e6 + 0.5) / 1e6).as("retained_k2"),
        (floor(col("retained_k3") * 1e6 + 0.5) / 1e6).as("retained_k3"),
        (floor(col("retained_k5") * 1e6 + 0.5) / 1e6).as("retained_k5"))
    },
    Some("""WITH b AS (
  SELECT lang, source, n_chars // 100 AS len_bucket FROM documents),
c AS (SELECT count(*) AS n FROM b GROUP BY lang, source, len_bucket),
t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c)
SELECT
  FLOOR(COALESCE(SUM(CASE WHEN n >= 2 THEN n END), 0) / total * 1e6 + 0.5) / 1e6 AS retained_k2,
  FLOOR(COALESCE(SUM(CASE WHEN n >= 3 THEN n END), 0) / total * 1e6 + 0.5) / 1e6 AS retained_k3,
  FLOOR(COALESCE(SUM(CASE WHEN n >= 5 THEN n END), 0) / total * 1e6 + 0.5) / 1e6 AS retained_k5
FROM c, t GROUP BY total"""))

  private val x60 = DeclaredQuery("x60_leakage_safe_split",
    // near-dup-cluster-aware train/val/test split: the split key is the
    // connected component of the MinHash near-dup graph, so near-
    // duplicates never straddle train and eval — the standard leakage
    // vector closed structurally. ORACLED (r16) by composing two proven
    // spellings in one WITH chain: the x16 recursive-CTE closure (exact
    // Jaccard pairs at this entry's 0.8 over the same 3-gram shingling,
    // min-id component key) feeding x06d's split-hash arithmetic on the
    // cluster key. The hash match pins THREE equivalences at once: the
    // LSH candidate path finds every exact-Jaccard-≥0.8 pair at gate
    // scale (the banded S-curve's ≈1−1e-7 recall, made checkable), the
    // xxhash64 shingle-hash Jaccard equals the string-shingle Jaccard
    // (collision-free — the x04f trick), and the min-id closure matches
    // the recursive CTE. Boundary doubles are spelled as the SAME IEEE
    // sums both sides (h < 0.8, h < (0.8 + 0.1)) — the x88 lesson; the
    // entry also still carries its self-validating straddle count, which
    // the oracle re-derives (0 by construction on both engines).
    (s, d) => {
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      val docs = spread(t(s, d, "documents"))
      // pairs feed the split AND the straddle validation — pin the LSH join
      val pairs = graft.operators.NearDup
        .nearDuplicates(docs, "doc_id", "text", minJaccard = 0.8)
        .localCheckpoint(true)
      // localCheckpoint: the straddle validation is an action and the
      // per-split counts another — pin the narrow labels so the pair
      // derivation + component fixed point run once
      val split = graft.operators.Sampling.leakageSafeSplit(
        docs, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .localCheckpoint(true)
      val labels = split
      val straddling = pairs
        .join(labels.withColumnRenamed("doc_id", "id_1")
          .withColumnRenamed("split", "__s1"), "id_1")
        .join(labels.withColumnRenamed("doc_id", "id_2")
          .withColumnRenamed("split", "__s2"), "id_2")
        .where(col("__s1") =!= col("__s2")).count()
      split.groupBy("split")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n_straddling_pairs", lit(straddling))
        .orderBy("split")
    },
    Some(ccOracle(
      """,
cl AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster
       FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
lab AS (SELECT doc_id, cluster,
  CASE WHEN h < 0.8 THEN 'train'
       WHEN h < (0.8 + 0.1) THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id, cluster,
          CAST(('0x' || substring(sha256(CAST(cluster AS VARCHAR)), 1, 8)) AS BIGINT)
            / 4294967296.0 AS h
        FROM cl)),
strad AS (SELECT COUNT(*) AS ns FROM pairs p
  JOIN lab l1 ON l1.doc_id = p.id_1 JOIN lab l2 ON l2.doc_id = p.id_2
  WHERE l1.split <> l2.split)
SELECT split, COUNT(*) AS n_docs,
       (SELECT ns FROM strad) AS n_straddling_pairs
FROM lab GROUP BY split ORDER BY split""", minJ = "0.8")))

  private val x96 = DeclaredQuery("x96_dataset_cartography",
    // dataset cartography (TrainingDynamics.cartography — Swayamdipta et
    // al. EMNLP'20): per-example confidence / variability / correctness
    // over training epochs, mapped to easy / ambiguous / hard regions.
    // The synthetic corpus has no training logs, so the entry derives a
    // deterministic per-(doc, epoch) probability from pure integer
    // arithmetic — (doc_id·37 + e·17) mod 101 centi-units — identical in
    // both engines, so the only doubles are the final divisions and the
    // one-pass variance closed form (sqrt(Σp²/n − mean²)), spelled the
    // same on both sides and canonicalized round4. The region label is
    // derived from the ROUNDED statistics in the operator itself, so an
    // ulp of sum-order drift can never flip a label (the x93 lesson).
    (s, d) => {
      val pe = t(s, d, "documents")
        .select(col("doc_id"), explode(sequence(lit(0), lit(4))).as("e"))
        .select(col("doc_id"),
          (pmod(col("doc_id") * 37 + col("e") * 17, lit(101))
            .cast("double") / 100.0).as("p"))
      graft.operators.TrainingDynamics.cartography(pe, "doc_id", "p")
        .select(col("doc_id"), col("n_epochs"),
          round4(col("confidence")).as("confidence"),
          round4(col("variability")).as("variability"),
          round4(col("correctness")).as("correctness"),
          col("region"))
        .orderBy("doc_id")
    },
    Some("""WITH pe AS (
  SELECT doc_id, CAST((doc_id * 37 + e * 17) % 101 AS DOUBLE) / 100.0 AS p
  FROM documents, range(0, 5) t(e)),
a AS (SELECT doc_id, COUNT(p) AS n_epochs, SUM(p) AS s, SUM(p * p) AS s2,
             SUM(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS c
      FROM pe GROUP BY doc_id),
st AS (SELECT doc_id, n_epochs,
         s / CAST(n_epochs AS DOUBLE) AS conf,
         SQRT(GREATEST(s2 / CAST(n_epochs AS DOUBLE)
           - (s / CAST(n_epochs AS DOUBLE)) * (s / CAST(n_epochs AS DOUBLE)),
           0.0)) AS var,
         CAST(c AS DOUBLE) / CAST(n_epochs AS DOUBLE) AS corr
       FROM a)
SELECT doc_id, n_epochs,
       FLOOR(conf * 10000 + 0.5) / 10000 AS confidence,
       FLOOR(var * 10000 + 0.5) / 10000 AS variability,
       FLOOR(corr * 10000 + 0.5) / 10000 AS correctness,
       CASE WHEN FLOOR(var * 10000 + 0.5) / 10000 >= 0.2 THEN 'ambiguous'
            WHEN FLOOR(conf * 10000 + 0.5) / 10000 >= 0.5 THEN 'easy'
            ELSE 'hard' END AS region
FROM st ORDER BY doc_id"""))

  private val x97 = DeclaredQuery("x97_rho_loss_select",
    // reducible-holdout-loss prioritization (TrainingDynamics
    // .rhoLossSelect — Mindermann et al. ICML'22): per language, the top-5
    // examples by train_loss − irreducible_loss, via the bounded-heap
    // graft_topk aggregate (shuffle ≤ groups × partitions × k, no sort,
    // no window). Losses are deci-unit integer residues — both engines
    // compute the identical per-row IEEE subtraction, so the ordering is
    // bit-identical; ties break by id DESC (the heap's contract), and the
    // oracle replays rank ≤ 5 with ROW_NUMBER.
    (s, d) => {
      val losses = t(s, d, "documents").select(col("doc_id"), col("lang"),
        (pmod(col("doc_id") * 13, lit(97)).cast("double") / 10.0)
          .as("train_loss"),
        (pmod(col("doc_id") * 7, lit(89)).cast("double") / 10.0)
          .as("irr_loss"))
      graft.operators.TrainingDynamics.rhoLossSelect(
          losses, "doc_id", "train_loss", "irr_loss", Seq("lang"), k = 5)
        .select(col("lang"), col("rank"),
          round4(col("reducible_loss")).as("reducible_loss"), col("doc_id"))
        .orderBy("lang", "rank")
    },
    Some("""WITH l AS (
  SELECT doc_id, lang,
         CAST((doc_id * 13) % 97 AS DOUBLE) / 10.0 AS train_loss,
         CAST((doc_id * 7) % 89 AS DOUBLE) / 10.0 AS irr_loss
  FROM documents),
r AS (SELECT lang, doc_id, train_loss - irr_loss AS red,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY train_loss - irr_loss DESC, doc_id DESC) AS rn
      FROM l)
SELECT lang, CAST(rn AS INTEGER) AS rank,
       FLOOR(red * 10000 + 0.5) / 10000 AS reducible_loss, doc_id
FROM r WHERE rn <= 5 ORDER BY lang, rank"""))

  private val x98 = DeclaredQuery("x98_unimax_allocation",
    // UniMax token-budget allocation (MixtureOptimization
    // .unimaxAllocation — Chung et al. ICLR'23): waterfill a training
    // budget across languages under a max-epochs cap, in closed form over
    // the per-language token-count artifact (the capped set is a prefix
    // of the cap-ascending order; the prefix invariant is pinned with a
    // running MIN rather than assumed). Budget = the corpus's own total
    // token count, maxEpochs = 2, so small languages cap at 2 epochs and
    // large ones share the remainder — a guaranteed nontrivial split.
    // Every decision is exact integer arithmetic (caps, prefix sums, the
    // capped test); the only doubles are the final equal-share division
    // and epochs ratio, spelled identically both sides and round4'd.
    (s, d) => {
      val docs = t(s, d, "documents")
      val ntok = graft.functions.TextAnalysis.tokenCount(col("text"))
      val counts = docs.groupBy("lang")
        .agg(sum(ntok.cast("long")).as("n_tokens"))
      // one bounded action: the corpus total fixes the budget scalar
      val budget = docs.agg(sum(ntok.cast("long"))).head().getLong(0)
      graft.operators.MixtureOptimization
        .unimaxAllocation(counts, "lang", "n_tokens", budget, maxEpochs = 2L)
        .select(col("lang"), col("n_tokens"), col("cap"), col("capped"),
          round4(col("allocated")).as("allocated"),
          round4(col("epochs")).as("epochs"))
        .orderBy("lang")
    },
    Some("""WITH toks AS (
  SELECT lang, len(list_filter(regexp_split_to_array(text, '\s+'),
                               x -> length(x) > 0)) AS nt
  FROM documents),
c AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM toks GROUP BY lang),
b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget FROM c),
r AS (SELECT lang, n_tokens, n_tokens * 2 AS cap,
        CAST(ROW_NUMBER() OVER (ORDER BY n_tokens * 2, lang) AS BIGINT) AS i,
        CAST(COALESCE(SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2, lang
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS sprev,
        CAST(COUNT(*) OVER () AS BIGINT) AS l
      FROM c),
ind AS (SELECT r.*, b.budget,
          CASE WHEN cap * (l - i + 1) <= budget - sprev THEN 1 ELSE 0 END
            AS ind
        FROM r, b),
cp AS (SELECT *, MIN(ind) OVER (ORDER BY cap, lang
         ROWS UNBOUNDED PRECEDING) = 1 AS capped FROM ind),
tt AS (SELECT CAST(SUM(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT)
          AS scap,
        CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS nfree
       FROM cp),
fin AS (SELECT cp.lang, cp.n_tokens, cp.cap, cp.capped,
          CASE WHEN cp.capped THEN CAST(cp.cap AS DOUBLE)
               ELSE CAST(cp.budget - tt.scap AS DOUBLE)
                    / CAST(tt.nfree AS DOUBLE) END AS alloc
        FROM cp, tt)
SELECT lang, n_tokens, cap, capped,
       FLOOR(alloc * 10000 + 0.5) / 10000 AS allocated,
       CASE WHEN n_tokens > 0
            THEN FLOOR(alloc / CAST(n_tokens AS DOUBLE) * 10000 + 0.5) / 10000
            END AS epochs
FROM fin ORDER BY lang"""))

  private val x99 = DeclaredQuery("x99_lsh_plan",
    // the banding-plan table behind every MinHash LSH choice in NearDup
    // (NearDup.lshPlan — Broder'97 / MMDS ch.3 S-curve arithmetic): one
    // row per (bands, rowsPerBand) divisor pair of a 128-hash signature ×
    // probe Jaccard, with the S-curve threshold (1/b)^(1/r), the
    // candidate probability 1−(1−j^r)^b, and `recommended` on the plan
    // whose ROUNDED threshold lands closest to 0.8 (ties → fewest bands
    // = cheapest shuffle). Closed-form — no data scanned; the only
    // cross-engine risk is libm pow ulps, absorbed by round4, and the
    // recommended flag derives from the rounded threshold (straddle-proof
    // convention) so both engines pick from identical inputs.
    (s, d) => graft.operators.NearDup.lshPlan(s, 128, targetJaccard = 0.8)
      .select(col("bands"), col("rows_per_band"),
        round4(col("threshold")).as("threshold"), col("recommended"),
        col("j"), round4(col("p_candidate")).as("p_candidate"))
      .orderBy("bands", "j"),
    Some("""WITH d AS (
  SELECT b AS bands, CAST(128 // b AS BIGINT) AS rows_per_band
  FROM range(1, 129) t(b) WHERE 128 % b = 0),
th AS (SELECT bands, rows_per_band,
         POWER(1.0 / bands, 1.0 / rows_per_band) AS threshold,
         ABS(FLOOR(POWER(1.0 / bands, 1.0 / rows_per_band) * 10000 + 0.5)
             / 10000 - CAST(0.8 AS DOUBLE)) AS dist
       FROM d),
best AS (SELECT dist, bands FROM th ORDER BY dist, bands LIMIT 1),
pr AS (SELECT CAST(j AS DOUBLE) AS j
       FROM unnest([0.5, 0.6, 0.7, 0.8, 0.9]) t(j))
SELECT th.bands, th.rows_per_band,
       FLOOR(th.threshold * 10000 + 0.5) / 10000 AS threshold,
       (th.dist = best.dist AND th.bands = best.bands) AS recommended,
       pr.j,
       FLOOR((1 - POWER(1 - POWER(pr.j, th.rows_per_band), th.bands))
             * 10000 + 0.5) / 10000 AS p_candidate
FROM th, best, pr
ORDER BY th.bands, pr.j"""))

  private val x100 = DeclaredQuery("x100_matryoshka_recall",
    // Matryoshka truncation evaluation (SimilaritySearch.matryoshkaRecall
    // — Kusupati et al. NeurIPS'22): per-query recall@10 of searching on
    // the first 16 of 64 embedding dims vs the full-dimension search —
    // the table that licenses a 4× cut in index memory/bandwidth/FLOPs.
    // Both sides are the exact topKAll baseline (quadratic by design;
    // production swaps in two ivfTopK frames); graft_cosine folds
    // left-to-right bit-identical to DuckDB's list_sum spelling (the x93
    // pin), and both rank orders tie-break (score DESC, corpus_id), so
    // the two top-k SETS — and hence the hit counts — are reproduced
    // exactly. Recall itself is exact integer arithmetic + one division.
    (s, d) => graft.operators.SimilaritySearch
      // r20: spread the CPU-bound per-row map stage (see [[spread]]; no-op at corpus scale, results partitioning-invariant)
      .matryoshkaRecall(spread(t(s, d, "embeddings")), "vec_id", "embedding",
        dims = 16, k = 10)
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        round4(col("recall")).as("recall"))
      .orderBy("query_id"),
    Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
tr AS (SELECT vec_id, embedding[1:16] AS embedding FROM embeddings),
cf AS (SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
  list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
  / NULLIF(SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS score
  FROM e a, e b WHERE a.vec_id <> b.vec_id),
rf AS (SELECT query_id, corpus_id FROM
        (SELECT query_id, corpus_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, corpus_id) AS rn
         FROM cf) WHERE rn <= 10),
ct AS (SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
  list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
  / NULLIF(SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
         * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 0) AS score
  FROM tr a, tr b WHERE a.vec_id <> b.vec_id),
rt AS (SELECT query_id, corpus_id FROM
        (SELECT query_id, corpus_id,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY score DESC, corpus_id) AS rn
         FROM ct) WHERE rn <= 10),
j AS (SELECT rf.query_id, rf.corpus_id,
             CASE WHEN rt.corpus_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM rf LEFT JOIN rt
        ON rt.query_id = rf.query_id AND rt.corpus_id = rf.corpus_id)
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(hit) AS BIGINT) AS n_hit,
       FLOOR(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS recall
FROM j GROUP BY query_id ORDER BY query_id"""))

  private val x102 = DeclaredQuery("x102_precision_thresholds",
    // per-source precision-calibrated score cutoffs (Selection
    // .precisionThresholdPerGroup — the FineWeb-style per-dump
    // thresholding step): one global classifier, each source keeps docs
    // above its OWN threshold = the lowest observed score whose keep-set
    // still meets 0.7 precision; unattainable sources report NULL, not a
    // silent fallback. Scores/labels are integer residues ((id·11)%101
    // centi-score; label = 1 iff (id·29)%101 < score-centi, so
    // P(label|s) rises with s and thresholds are nontrivial) — both
    // engines compute identical doubles, the prefix counts are exact
    // ints, and precision is one division. The window input pre-
    // aggregates to DISTINCT (source, score) pairs (the x08 discipline),
    // never corpus rows.
    (s, d) => {
      val scored = t(s, d, "documents").select(col("doc_id"), col("source"),
        (pmod(col("doc_id") * 11, lit(101)).cast("double") / 100.0)
          .as("score"),
        when(pmod(col("doc_id") * 29, lit(101)) <
          pmod(col("doc_id") * 11, lit(101)), 1L).otherwise(0L).as("label"))
      graft.operators.Selection.precisionThresholdPerGroup(
          scored, "source", "score", "label", targetPrecision = 0.7)
        .select(col("source"), round4(col("threshold")).as("threshold"),
          col("n_kept"), col("n_pos_kept"),
          round4(col("precision")).as("precision"))
        .orderBy("source")
    },
    Some("""WITH l AS (
  SELECT doc_id, source, CAST((doc_id * 11) % 101 AS DOUBLE) / 100.0 AS score,
         CASE WHEN (doc_id * 29) % 101 < (doc_id * 11) % 101
              THEN 1 ELSE 0 END AS y
  FROM documents),
b AS (SELECT source, score, COUNT(*) AS n, SUM(y) AS p FROM l GROUP BY 1, 2),
pr AS (SELECT source, score,
         SUM(n) OVER (PARTITION BY source ORDER BY score DESC
           ROWS UNBOUNDED PRECEDING) AS kn,
         SUM(p) OVER (PARTITION BY source ORDER BY score DESC
           ROWS UNBOUNDED PRECEDING) AS kp
       FROM b),
q AS (SELECT source, score, kn, kp,
             CAST(kp AS DOUBLE) / CAST(kn AS DOUBLE) AS prec
      FROM pr
      WHERE CAST(kp AS DOUBLE) / CAST(kn AS DOUBLE) >= CAST(0.7 AS DOUBLE)),
best AS (SELECT source, score, kn, kp, prec FROM
          (SELECT q.*, ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY score) AS rn FROM q) WHERE rn = 1)
SELECT s.source, FLOOR(best.score * 10000 + 0.5) / 10000 AS threshold,
       CAST(best.kn AS BIGINT) AS n_kept,
       CAST(best.kp AS BIGINT) AS n_pos_kept,
       FLOOR(best.prec * 10000 + 0.5) / 10000 AS "precision"
FROM (SELECT DISTINCT source FROM documents) s
LEFT JOIN best USING (source)
ORDER BY s.source"""))

  private val x103 = DeclaredQuery("x103_label_noise_flags",
    // confident-learning label-noise screening (TrainingDynamics
    // .confidentLearningFlags — Northcutt et al. JAIR'21, the cleanlab
    // method): per-class thresholds = mean predicted probability among
    // examples labeled that class; an example is suspect when the model
    // is opposite-class-confident at that class's threshold. The entry
    // constructs 20% deliberate label noise from integer residues
    // ((id·17)%101 centi-prob; (id·13)%10 < 8 keeps the prob-consistent
    // label, else flips), so both engines see identical doubles; the
    // class means are k-term double sums — the flags compare against the
    // ROUND4ED thresholds (straddle-proof), and the oracle spells the
    // identical rounding.
    (s, d) => {
      val pc = pmod(col("doc_id") * 17, lit(101))
      val consistent = when(pc >= 50, 1L).otherwise(0L)
      val labeled = t(s, d, "documents").select(col("doc_id"),
        (pc.cast("double") / 100.0).as("p1"),
        when(pmod(col("doc_id") * 13, lit(10)) < 8, consistent)
          .otherwise(lit(1L) - consistent).as("label"))
      graft.operators.TrainingDynamics.confidentLearningFlags(
          labeled, "doc_id", "label", "p1")
        .select(col("doc_id"), col("label"), round4(col("p1")).as("p1"),
          col("suspect"), col("suggested_label"))
        .orderBy("doc_id")
    },
    Some("""WITH l AS (
  SELECT doc_id, CAST((doc_id * 17) % 101 AS DOUBLE) / 100.0 AS p1,
         CAST(CASE WHEN (doc_id * 13) % 10 < 8
              THEN CASE WHEN (doc_id * 17) % 101 >= 50 THEN 1 ELSE 0 END
              ELSE CASE WHEN (doc_id * 17) % 101 >= 50 THEN 0 ELSE 1 END
              END AS BIGINT) AS label
  FROM documents),
t AS (SELECT
        FLOOR(AVG(CASE WHEN label = 1 THEN p1 END) * 10000 + 0.5) / 10000
          AS t1,
        FLOOR(AVG(CASE WHEN label = 0 THEN 1.0 - p1 END) * 10000 + 0.5)
          / 10000 AS t0
      FROM l)
SELECT doc_id, label, FLOOR(p1 * 10000 + 0.5) / 10000 AS p1,
       CASE WHEN label = 0 THEN (t1 IS NOT NULL AND p1 >= t1)
            ELSE (t0 IS NOT NULL AND 1.0 - p1 >= t0) END AS suspect,
       CAST(CASE WHEN (CASE WHEN label = 0
                       THEN (t1 IS NOT NULL AND p1 >= t1)
                       ELSE (t0 IS NOT NULL AND 1.0 - p1 >= t0) END)
            THEN 1 - label END AS BIGINT) AS suggested_label
FROM l, t ORDER BY doc_id"""))

  private val x104 = DeclaredQuery("x104_ranking_metrics",
    // graded retrieval evaluation (Relevance.rankingMetrics — Järvelin &
    // Kekäläinen NDCG + the TREC MRR/P@k/R@k conventions): per query,
    // precision/recall@10, reciprocal rank, DCG with the exponential gain
    // (2^rel−1)/log2(rank+1), and NDCG against the ideal (rel DESC, id)
    // ordering — NULL when a query has no judged relevant docs. Run and
    // qrels are integer-residue constructions (query = id mod 20, rank =
    // id div 20 + 1 — a valid run by construction; rel graded 0/1/2 by
    // (id·7) mod 5), so the only doubles are the shared gain spelling
    // (ln(x)/ln 2 both engines, libm ulps absorbed by round4) and exact
    // count divisions. DCG folds a SORTED ≤k list (the x93 discipline).
    (s, d) => {
      val docs = t(s, d, "documents")
      val run = docs.select(
        pmod(col("doc_id"), lit(20)).cast("long").as("query_id"),
        col("doc_id").as("corpus_id"),
        (expr("doc_id div 20") + 1L).as("rank"))
      val qrels = docs.select(
        pmod(col("doc_id"), lit(20)).cast("long").as("query_id"),
        col("doc_id").as("corpus_id"),
        when(pmod(col("doc_id") * 7, lit(5)) === 0, 2L)
          .when(pmod(col("doc_id") * 7, lit(5)) === 1, 1L)
          .otherwise(0L).as("rel"))
      graft.operators.Relevance.rankingMetrics(run, qrels, k = 10)
        .select(col("query_id"), col("n_rel"), col("n_rel_ret"),
          round4(col("precision_at_k")).as("precision_at_k"),
          round4(col("recall_at_k")).as("recall_at_k"),
          round4(col("rr")).as("rr"),
          round4(col("dcg_at_k")).as("dcg_at_k"),
          round4(col("ndcg_at_k")).as("ndcg_at_k"))
        .orderBy("query_id")
    },
    Some("""WITH run AS (
  SELECT doc_id % 20 AS query_id, doc_id AS corpus_id,
         doc_id // 20 + 1 AS rank
  FROM documents),
qr AS (SELECT doc_id % 20 AS query_id, doc_id AS corpus_id,
         CAST(CASE (doc_id * 7) % 5 WHEN 0 THEN 2 WHEN 1 THEN 1
              ELSE 0 END AS BIGINT) AS rel
       FROM documents),
rel AS (SELECT query_id, corpus_id, rel FROM qr WHERE rel > 0),
ret AS (SELECT r.query_id, r.rank, COALESCE(rel.rel, 0) AS g
        FROM run r LEFT JOIN rel
          ON rel.query_id = r.query_id AND rel.corpus_id = r.corpus_id
        WHERE r.rank <= 10),
pq AS (SELECT query_id,
         CAST(SUM(CASE WHEN g > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rel_ret,
         MIN(CASE WHEN g > 0 THEN rank END) AS first_rel,
         SUM((POWER(2.0, g) - 1) / (LN(rank + 1) / LN(2.0))) AS dcg
       FROM ret GROUP BY 1),
ide AS (SELECT query_id,
          SUM((POWER(2.0, rel) - 1) / (LN(i + 1) / LN(2.0))) AS idcg
        FROM (SELECT query_id, rel,
                ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rel DESC, corpus_id) AS i FROM rel)
        WHERE i <= 10 GROUP BY 1),
nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
       FROM rel GROUP BY 1),
base AS (SELECT query_id FROM run UNION SELECT query_id FROM qr)
SELECT b.query_id,
       COALESCE(nr.n_rel, 0) AS n_rel,
       COALESCE(pq.n_rel_ret, 0) AS n_rel_ret,
       FLOOR(COALESCE(pq.n_rel_ret, 0) / 10.0 * 10000 + 0.5) / 10000
         AS precision_at_k,
       CASE WHEN COALESCE(nr.n_rel, 0) > 0 THEN
         FLOOR(CAST(COALESCE(pq.n_rel_ret, 0) AS DOUBLE)
               / CAST(nr.n_rel AS DOUBLE) * 10000 + 0.5) / 10000
         END AS recall_at_k,
       FLOOR(COALESCE(1.0 / pq.first_rel, 0.0) * 10000 + 0.5) / 10000
         AS rr,
       FLOOR(COALESCE(pq.dcg, 0.0) * 10000 + 0.5) / 10000 AS dcg_at_k,
       CASE WHEN ide.idcg > 0 THEN
         FLOOR(COALESCE(pq.dcg, 0.0) / ide.idcg * 10000 + 0.5) / 10000
         END AS ndcg_at_k
FROM base b
LEFT JOIN pq USING (query_id)
LEFT JOIN nr USING (query_id)
LEFT JOIN ide USING (query_id)
ORDER BY b.query_id"""))

  private val x105 = DeclaredQuery("x105_isotonic_calibration",
    // isotonic recalibration of the reliability diagram (Calibration
    // .isotonicCalibrate — Zadrozny & Elkan KDD'02; PAV): the monotone
    // least-squares fit of per-bin positive rates, computed by the driver
    // PAV fold over the ≤nBins artifact with EXACT BigInt pooling
    // decisions; the oracle replays it through the minimax
    // characterization ŷᵢ = max_{j≤i} min_{k≥i} mean(j..k) over O(B³)
    // windows — tractable because B ≤ 10, and bit-equal because every
    // candidate mean is ONE correctly-rounded division of exact integer
    // prefix sums (equal rationals ⇒ identical doubles). The probe
    // corpus is residue-labeled so P(y=1|p) ≈ p with noise — real
    // violators for PAV to pool.
    (s, d) => {
      val labeled = t(s, d, "documents").select(
        (pmod(col("doc_id") * 19, lit(101)).cast("double") / 100.0).as("p"),
        when(pmod(col("doc_id") * 23, lit(101)) <
          pmod(col("doc_id") * 19, lit(101)), 1L).otherwise(0L).as("y"))
      graft.operators.Calibration.isotonicCalibrate(labeled, "p", "y",
          nBins = 10)
        .select(col("bin"), col("n"), round4(col("acc")).as("acc"),
          round4(col("calibrated")).as("calibrated"))
        .orderBy("bin")
    },
    Some("""WITH l AS (
  SELECT CAST((doc_id * 19) % 101 AS DOUBLE) / 100.0 AS p,
         CASE WHEN (doc_id * 23) % 101 < (doc_id * 19) % 101
              THEN 1 ELSE 0 END AS y
  FROM documents),
b AS (SELECT CAST(LEAST(FLOOR(p * 10), 9) AS INTEGER) AS bin,
             COUNT(*) AS n, SUM(y) AS pos
      FROM l GROUP BY 1),
o AS (SELECT bin, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
             ROW_NUMBER() OVER (ORDER BY bin) AS idx FROM b),
pre AS (SELECT idx, bin, n, pos,
          CAST(SUM(n) OVER (ORDER BY idx) AS BIGINT) AS cn,
          CAST(SUM(pos) OVER (ORDER BY idx) AS BIGINT) AS cp
        FROM o),
pairs AS (SELECT pj.idx AS ji, pk.idx AS ki,
            CAST(pk.cp - pj.cp + pj.pos AS DOUBLE)
              / CAST(pk.cn - pj.cn + pj.n AS DOUBLE) AS av
          FROM pre pj JOIN pre pk ON pj.idx <= pk.idx),
mm AS (SELECT i.idx, p.ji, MIN(p.av) AS mn
       FROM o i JOIN pairs p ON p.ji <= i.idx AND p.ki >= i.idx
       GROUP BY 1, 2),
fit AS (SELECT idx, MAX(mn) AS calibrated FROM mm GROUP BY 1)
SELECT o.bin, o.n,
       FLOOR(CAST(o.pos AS DOUBLE) / CAST(o.n AS DOUBLE) * 10000 + 0.5)
         / 10000 AS acc,
       FLOOR(fit.calibrated * 10000 + 0.5) / 10000 AS calibrated
FROM o JOIN fit USING (idx) ORDER BY o.bin"""))

  private val x106 = DeclaredQuery("x106_epoch_materialize",
    // the follow-through of x98: UniMax DECIDES fractional epochs,
    // Sampling.materializeEpochs EXECUTES them — every doc repeats
    // floor(e) times plus once more for a deterministic hash-fraction of
    // ids (hashUnit salted ':epoch', decorrelated from split/sample
    // decisions on the same ids), so expected rows per language =
    // n·epochs = the promised budget. The oracle composes the ENTIRE x98
    // WITH chain (exact integer waterfilling) with the x06d sha256-hash
    // arithmetic and a lateral range unnest — the x60 "compose two proven
    // spellings" pattern. epochs is a single correctly-rounded division
    // of exact integers, so the fractional-part comparison is
    // bit-identical across engines, no rounding anywhere.
    (s, d) => {
      val docs = t(s, d, "documents")
      val ntok = graft.functions.TextAnalysis.tokenCount(col("text"))
      val counts = docs.groupBy("lang")
        .agg(sum(ntok.cast("long")).as("n_tokens"))
      val budget = docs.agg(sum(ntok.cast("long"))).head().getLong(0)
      val alloc = graft.operators.MixtureOptimization
        .unimaxAllocation(counts, "lang", "n_tokens", budget, maxEpochs = 2L)
        .select(col("lang"), col("epochs"))
      graft.operators.Sampling.materializeEpochs(
          docs.select("doc_id", "lang"), "doc_id", "lang", alloc)
        .select(col("lang"), col("doc_id"), col("copy"))
        .orderBy("lang", "doc_id", "copy")
    },
    Some("""WITH toks AS (
  SELECT lang, len(list_filter(regexp_split_to_array(text, '\s+'),
                               x -> length(x) > 0)) AS nt
  FROM documents),
c AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM toks GROUP BY lang),
b AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS budget FROM c),
r AS (SELECT lang, n_tokens, n_tokens * 2 AS cap,
        CAST(ROW_NUMBER() OVER (ORDER BY n_tokens * 2, lang) AS BIGINT) AS i,
        CAST(COALESCE(SUM(n_tokens * 2) OVER (ORDER BY n_tokens * 2, lang
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS sprev,
        CAST(COUNT(*) OVER () AS BIGINT) AS l
      FROM c),
ind AS (SELECT r.*, b.budget,
          CASE WHEN cap * (l - i + 1) <= budget - sprev THEN 1 ELSE 0 END
            AS ind
        FROM r, b),
cp AS (SELECT *, MIN(ind) OVER (ORDER BY cap, lang
         ROWS UNBOUNDED PRECEDING) = 1 AS capped FROM ind),
tt AS (SELECT CAST(SUM(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT)
          AS scap,
        CAST(SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT) AS nfree
       FROM cp),
ep AS (SELECT cp.lang,
         CASE WHEN cp.n_tokens > 0 THEN
           (CASE WHEN cp.capped THEN CAST(cp.cap AS DOUBLE)
                 ELSE CAST(cp.budget - tt.scap AS DOUBLE)
                      / CAST(tt.nfree AS DOUBLE) END)
           / CAST(cp.n_tokens AS DOUBLE) END AS epochs
       FROM cp, tt),
dl AS (SELECT d.doc_id, d.lang, ep.epochs,
         CAST(('0x' || substring(sha256(CAST(d.doc_id AS VARCHAR)
           || ':epoch'), 1, 8)) AS BIGINT) / 4294967296.0 AS u
       FROM documents d JOIN ep USING (lang)),
cnt AS (SELECT doc_id, lang,
          CAST(FLOOR(epochs) AS BIGINT)
            + CASE WHEN u < epochs - FLOOR(epochs) THEN 1 ELSE 0 END
            AS copies
        FROM dl)
SELECT lang, doc_id, CAST(copy AS BIGINT) AS copy
FROM (SELECT lang, doc_id, unnest(range(1, copies + 1)) AS copy FROM cnt)
ORDER BY lang, doc_id, copy"""))

  private val x107 = DeclaredQuery("x107_frame_sample",
    // exactly-k uniform video frame sampling (Multimodal
    // .frameSampleUniform): k=4 frames per synthetic clip at
    // idx = ⌊j·n_frames/4⌋, deduplicated for short clips (n_frames =
    // id mod 16 + 1, so clips with <4 frames exercise the dedup), with
    // the documented deterministic-fake per-frame decode
    // ((id·31 + idx·7) mod 256 — the stub tier; the sampling arithmetic
    // and row shape are the real surface). Map-only inside the row; the
    // oracle replays the index arithmetic with a lateral range + DISTINCT
    // + rank — exact integers end to end, no rounding.
    (s, d) => graft.operators.Multimodal.frameSampleUniform(
        graft.operators.Multimodal.synthesize(
          t(s, d, "documents").select("doc_id"), "doc_id"), k = 4)
      .orderBy("media_id", "sample_ord"),
    Some("""WITH m AS (
  SELECT doc_id AS media_id, doc_id % 16 + 1 AS nf FROM documents),
pos AS (SELECT media_id, (j * nf) // 4 AS frame_idx
        FROM m, range(0, 4) t(j)),
d AS (SELECT DISTINCT media_id, frame_idx FROM pos),
o AS (SELECT media_id, frame_idx,
        CAST(ROW_NUMBER() OVER (PARTITION BY media_id
          ORDER BY frame_idx) - 1 AS BIGINT) AS sample_ord
      FROM d)
SELECT media_id, sample_ord, frame_idx,
       (media_id * 31 + frame_idx * 7) % 256 AS fake_luma
FROM o ORDER BY media_id, sample_ord"""))

  private val x108 = DeclaredQuery("x108_fightin_words",
    // prior-shrunk log-odds vocabulary comparison (VocabComparison
    // .fightinWords — Monroe et al. 2008): which terms distinguish the
    // even-doc_id half of the corpus from the odd half, z-scored with the
    // informative Dirichlet prior so rare terms need evidence. Counts are
    // exact integers from one term-keyed aggregation; α/δ/z are spelled
    // with the identical left-associated arithmetic in both engines
    // (ln/sqrt libm ulps absorbed by round4). minCount=5 keeps the gate
    // frame at the stable-vocabulary tail.
    (s, d) => graft.operators.VocabComparison.fightinWords(
        t(s, d, "documents"), pmod(col("doc_id"), lit(2)) === 0, "text",
        priorScale = 1.0, minCount = 5L)
      .select(col("term"), col("n_a"), col("n_b"),
        round4(col("delta")).as("delta"), round4(col("z")).as("z"))
      .orderBy("term"),
    Some("""WITH tk AS (
  SELECT doc_id % 2 = 0 AS a,
         unnest(list_filter(regexp_split_to_array(text, '\s+'),
                            t -> length(t) > 0)) AS term
  FROM documents),
tc AS (SELECT term,
         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
         CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS yb
       FROM tk GROUP BY term),
tot AS (SELECT CAST(SUM(ya) AS BIGINT) AS na, CAST(SUM(yb) AS BIGINT) AS nb
        FROM tc),
f AS (SELECT term, ya, yb, na, nb,
        1.0 * CAST(ya + yb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS alpha
      FROM tc, tot WHERE ya + yb >= 5),
g AS (SELECT term, ya, yb,
        LN((CAST(ya AS DOUBLE) + alpha)
           / (CAST(na AS DOUBLE) + 1.0 - CAST(ya AS DOUBLE) - alpha))
        - LN((CAST(yb AS DOUBLE) + alpha)
             / (CAST(nb AS DOUBLE) + 1.0 - CAST(yb AS DOUBLE) - alpha))
          AS delta,
        SQRT(1.0 / (CAST(ya AS DOUBLE) + alpha)
             + 1.0 / (CAST(yb AS DOUBLE) + alpha)) AS sd
      FROM f)
SELECT term, ya AS n_a, yb AS n_b,
       FLOOR(delta * 10000 + 0.5) / 10000 AS delta,
       FLOOR(delta / sd * 10000 + 0.5) / 10000 AS z
FROM g ORDER BY term"""))

  private val x109 = DeclaredQuery("x109_truncation_loss",
    // context-window truncation audit (Profiling.truncationLoss): per
    // source and candidate limit L ∈ {64, 256, 1024}, how many documents
    // overflow and what token fraction a truncate-at-L policy loses — the
    // table that prices context length against chunking. ONE aggregation
    // pass computes every limit as conditional sums (map-side combined),
    // then unpivots; exact integers + one division per row.
    (s, d) => graft.operators.Profiling.truncationLoss(
        t(s, d, "documents"), "source",
        graft.functions.TextAnalysis.tokenCount(col("text")),
        Seq(64L, 256L, 1024L))
      .select(col("source"), col("limit"), col("n_docs_over"),
        col("lost_tokens"), round4(col("lost_frac")).as("lost_frac"))
      .orderBy("source", "limit"),
    Some("""WITH tc AS (
  SELECT source,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> length(t) > 0)) AS BIGINT) AS nt
  FROM documents),
tot AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS total
        FROM tc GROUP BY source),
per AS (SELECT tc.source, CAST(lim AS BIGINT) AS lim,
          CAST(SUM(CASE WHEN nt > lim THEN 1 ELSE 0 END) AS BIGINT)
            AS n_docs_over,
          CAST(SUM(CASE WHEN nt > lim THEN nt - lim ELSE 0 END) AS BIGINT)
            AS lost_tokens
        FROM tc, unnest([64, 256, 1024]) t(lim)
        GROUP BY tc.source, lim)
SELECT p.source, p.lim AS "limit", p.n_docs_over, p.lost_tokens,
       CASE WHEN tot.total > 0 THEN
         FLOOR(CAST(p.lost_tokens AS DOUBLE) / CAST(tot.total AS DOUBLE)
               * 10000 + 0.5) / 10000 END AS lost_frac
FROM per p JOIN tot USING (source)
ORDER BY p.source, p.lim"""))

  private val x110 = DeclaredQuery("x110_needle_haystacks",
    // needle-in-a-haystack synthesis (LongContext.needleHaystacks — the
    // NIAH long-context probe protocol): real docs packed into
    // 2048-token haystacks via the x12 prefix-sum bins, one needle token
    // spliced at a bin-keyed depth residue ((bin·37) mod 101 / 100 — a
    // deterministic depth sweep including the d=1.0 end-clamp). The
    // oracle replays the packing window, the string_agg assembly, the
    // depth arithmetic, and the list-splice; offsets/positions are exact
    // integers and the depth multiply is one shared IEEE expression, so
    // the full haystack TEXTS hash-match — assembly, order, and splice
    // all pinned at once.
    (s, d) => graft.operators.LongContext.needleHaystacks(
        t(s, d, "documents"), "doc_id", "text",
        graft.functions.TextAnalysis.tokenCount(col("text")),
        capacity = 2048L, needle = "GRAFT-NEEDLE-0042",
        depth = pmod(col("bin") * 37, lit(101)).cast("double") / 100.0)
      .orderBy("bin"),
    Some("""WITH tc AS (
  SELECT doc_id, text,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                              t -> length(t) > 0)) AS BIGINT) AS nt
  FROM documents),
o AS (SELECT doc_id, text,
        CAST(COALESCE(SUM(nt) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS so
      FROM tc),
b AS (SELECT doc_id, text, so // 2048 AS bin FROM o),
a AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
        string_agg(text, ' ' ORDER BY doc_id) AS t
      FROM b GROUP BY bin),
tk AS (SELECT bin, n_docs,
         list_filter(regexp_split_to_array(t, '\s+'),
                     x -> length(x) > 0) AS l
       FROM a),
p AS (SELECT bin, n_docs, CAST(len(l) AS BIGINT) AS n_tokens, l,
        LEAST(CAST(FLOOR(CAST((bin * 37) % 101 AS DOUBLE) / 100.0
                         * CAST(len(l) AS DOUBLE)) AS BIGINT),
              CAST(len(l) AS BIGINT)) AS pos
      FROM tk)
SELECT bin, n_docs, n_tokens, pos AS needle_token_pos,
       array_to_string(list_concat(list_concat(
         l[1:pos], ['GRAFT-NEEDLE-0042']), l[pos+1:len(l)]), ' ') AS text
FROM p ORDER BY bin"""))

  private val x111 = DeclaredQuery("x111_orc_roundtrip",
    // columnar-format breadth: the corpus written to ORC (zlib) and read
    // back through Spark's native ORC source with a pushed predicate —
    // the oracle is the PARQUET truth, so the hash pins ORC write/read
    // fidelity end-to-end (string/long round-trip, row completeness,
    // filter correctness on the ORC reader). PlanQualitySpec pins that
    // the predicate reaches the ORC scan (PushedFilters), same as the
    // parquet discipline.
    (s, d) => {
      val docs = t(s, d, "documents")
      val tmp = graft.sources.Scratch.dir("graft-x111")
      val path = tmp.resolve("docs_orc").toString
      docs.write.mode("overwrite").option("compression", "zlib").orc(path)
      s.read.orc(path)
        .where(col("n_chars") >= 200)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
WHERE n_chars >= 200 ORDER BY doc_id"""))

  private val x113 = DeclaredQuery("x113_cross_source_dup_matrix",
    // cross-source duplication matrix (Dedup.crossGroupDupMatrix): for
    // every source pair, how many CCNet 80-char prefix keys they share —
    // the provenance table behind dedup rates ("is A copying B or are
    // both scraping the same upstream?"). Spark keys the shuffle on
    // xxhash64(prefix) (8 bytes — the SubstringDedup discipline); the
    // oracle groups by the LITERAL prefix, so a hash collision
    // over-counts a pair and hash-fails (the x04f trap). Pair expansion
    // happens inside the ≤|sources| distinct set per key, never over
    // corpus rows; counts are exact integers.
    (s, d) => graft.operators.Dedup.crossGroupDupMatrix(
        t(s, d, "documents"), substring(col("text"), 1, 80), "source")
      .orderBy("group_a", "group_b"),
    Some("""WITH n AS (
  SELECT substr(text, 1, 80) AS k, source FROM documents
  WHERE source IS NOT NULL),
g AS (SELECT k, list_sort(list_distinct(list(source))) AS s
      FROM n GROUP BY k HAVING COUNT(DISTINCT source) >= 2),
p AS (SELECT s[i] AS group_a, s[j] AS group_b
      FROM g, unnest(range(1, len(s) + 1)) t1(i),
           unnest(range(1, len(s) + 1)) t2(j)
      WHERE i < j)
SELECT group_a, group_b, CAST(COUNT(*) AS BIGINT) AS n_shared_keys
FROM p GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** x114's DuckDB oracle: the x113 matrix replay (literal prefixes)
    * symmetrized into shares, then the PageRank update UNROLLED as ten
    * chained CTEs — no recursion needed because the iteration count is
    * fixed and branch-free (unlike x57's rate-halving GD, which needs
    * WITH RECURSIVE). (1.0 - 0.85) is spelled as the subtraction, not
    * 0.15: the two literals are DIFFERENT doubles and the Spark side
    * computes the base via the subtraction. The update is branch-free so
    * cross-engine float-fold divergence (~1e-15/iter) never compounds
    * into a different trajectory; round4 canonicalizes. The symmetrized
    * graph has no dangling nodes (every vertex appears as src), so the
    * teleport term is exactly 0.0 on both engines. */
  private val X114OracleSql: String = {
    val head = """WITH n AS (
  SELECT substr(text, 1, 80) AS k, source FROM documents
  WHERE source IS NOT NULL),
g AS (SELECT k, list_sort(list_distinct(list(source))) AS s
      FROM n GROUP BY k HAVING COUNT(DISTINCT source) >= 2),
p AS (SELECT s[i] AS ga, s[j] AS gb
      FROM g, unnest(range(1, len(s) + 1)) t1(i),
           unnest(range(1, len(s) + 1)) t2(j)
      WHERE i < j),
m AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS w FROM p GROUP BY 1, 2),
eall AS (SELECT ga AS src, gb AS dst, w FROM m
         UNION ALL SELECT gb, ga, w FROM m),
ow AS (SELECT src, SUM(CAST(w AS DOUBLE)) AS tw FROM eall GROUP BY src),
ed AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / ow.tw AS share
       FROM eall e JOIN ow USING (src)),
verts AS (SELECT DISTINCT src AS node FROM eall),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
r0 AS (SELECT node, 1.0 / nd.n AS r FROM verts CROSS JOIN nd)"""
    val steps = (1 to 10).map { k =>
      s""",
r$k AS (
  SELECT v.node, (1.0 - 0.85) / nd.n + 0.85 * COALESCE(sm.s, 0.0) AS r
  FROM verts v CROSS JOIN nd
  LEFT JOIN (SELECT e.dst AS node, SUM(e.share * p.r) AS s
             FROM ed e JOIN r${k - 1} p ON p.node = e.src
             GROUP BY e.dst) sm ON sm.node = v.node)"""
    }.mkString
    head + steps + """
SELECT node AS source, FLOOR(r * 10000 + 0.5) / 10000 AS rank
FROM r10 ORDER BY source"""
  }

  private val x114 = DeclaredQuery("x114_source_pagerank",
    // source-authority PageRank (Graph.pagerank) over the x113 provenance
    // graph: sources are nodes, shared CCNet-prefix counts are symmetric
    // weighted edges, ten damped iterations rank "who is the upstream" —
    // the crawl-seed-prioritization read (Common Crawl host-ranking
    // style) composed from the dup matrix the pipeline already computes.
    // Each iteration is one |V|-row join + one partial-agg shuffle of
    // narrow (node, double) rows; edge shares are checkpointed once.
    // Branch-free float iterate → round4 oracles it exactly (see
    // X114OracleSql's notes).
    (s, d) => {
      val m = graft.operators.Dedup.crossGroupDupMatrix(
          t(s, d, "documents"), substring(col("text"), 1, 80), "source")
        .localCheckpoint(true) // consumed twice: both edge directions
      val edges = m.select(col("group_a").as("src"),
          col("group_b").as("dst"), col("n_shared_keys"))
        .unionByName(m.select(col("group_b").as("src"),
          col("group_a").as("dst"), col("n_shared_keys")))
      graft.operators.Graph.pagerank(edges, "src", "dst",
          col("n_shared_keys"), iters = 10, damping = 0.85)
        .select(col("node").as("source"), round4(col("rank")).as("rank"))
        .orderBy("source")
    },
    Some(X114OracleSql))

  private val x115 = DeclaredQuery("x115_containment_pairs",
    // asymmetric containment dedup (NearDup.containmentPairs — Broder's
    // containment, the subset/quotation face resemblance misses; the
    // dedup action differs too: keep the SUPERSET). The corpus' organic
    // near-dups are same-length mutations (containment ≡ Jaccard there),
    // so the entry CONSTRUCTS the asymmetric case the x110 way: every 5
    // consecutive docs concatenate into a synthetic "quoting article" in
    // doc_id order, and each original must surface inside its article at
    // containment EXACTLY 1.0 (subset ⇒ every shingle present) while
    // their Jaccard sits near 1/5 — invisible to x02d's threshold. The
    // oracle replays the article construction (string_agg in id order)
    // and the shingle-set arithmetic literally (the x04f collision trap:
    // Spark joins on shingle HASHES, the oracle on shingle STRINGS).
    // Counts/sizes are exact integers; the 0.9 cut compares exact-int
    // divisions, bit-identical cross-engine.
    (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val articles = docs
        .groupBy(expr("doc_id div 5").as("bin"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("doc_id").as("k"),
            col("text").as("t")))),
          x => x.getField("t")), " ").as("text"))
        .select((col("bin") + 1000000L).as("doc_id"), col("text"))
      graft.operators.NearDup.containmentPairs(
          docs.unionByName(articles), "doc_id", "text", minContainment = 0.9)
        .select(col("id_1"), col("id_2"),
          round2(col("containment_1_in_2")).as("containment_1_in_2"),
          round2(col("containment_2_in_1")).as("containment_2_in_1"))
        .orderBy("id_1", "id_2")
    },
    Some("""WITH d0 AS (SELECT doc_id, text FROM documents),
art AS (SELECT doc_id // 5 + 1000000 AS doc_id,
          string_agg(text, ' ' ORDER BY doc_id) AS text
        FROM d0 GROUP BY doc_id // 5),
corpus AS (SELECT * FROM d0 UNION ALL SELECT * FROM art),
sh AS (SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1),
                          i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)
            AS toks FROM corpus)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM ex a JOIN ex b USING (g)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
p AS (SELECT id_1, id_2, c * 1.0 / sa.n AS c12, c * 1.0 / sb.n AS c21
      FROM isect JOIN sz sa ON sa.doc_id = id_1
                 JOIN sz sb ON sb.doc_id = id_2)
SELECT id_1, id_2,
  FLOOR(c12 * 100 + 0.5) / 100 AS containment_1_in_2,
  FLOOR(c21 * 100 + 0.5) / 100 AS containment_2_in_1
FROM p WHERE GREATEST(c12, c21) >= 0.9 ORDER BY id_1, id_2"""))

  private val x115b = DeclaredQuery("x115b_containment_pairs_capped",
    // the dfCap stop-shingle face of containment (r18): the 100 TB knob —
    // shingles in more than `cap` documents leave the POSTING join (the
    // boilerplate bound that keeps the inverted index output-bound) while
    // set SIZES stay full, so both containment ratios can only
    // UNDERESTIMATE — conservative for the ≥ threshold, exactly the x02e
    // contract one operator over. Same synthetic quoting-article corpus
    // as x115; cap=8 genuinely prunes (~170 shingles capped, 575→532
    // surviving pairs at sf0.01) while ~150 subset pairs keep containment
    // EXACTLY 1.0 (none of their shingles capped) — both the pruned face
    // and the exact-subset face fire. The oracle replays the cap
    // literally: df>8 shingles dropped from the intersection, sizes full,
    // shingle STRINGS vs Spark's shingle HASHES (the x04f collision
    // trap). Counts/sizes exact integers; the 0.9 cut compares
    // exact-int divisions, bit-identical cross-engine.
    (s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val articles = docs
        .groupBy(expr("doc_id div 5").as("bin"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("doc_id").as("k"),
            col("text").as("t")))),
          x => x.getField("t")), " ").as("text"))
        .select((col("bin") + 1000000L).as("doc_id"), col("text"))
      graft.operators.NearDup.containmentPairs(
          docs.unionByName(articles), "doc_id", "text", minContainment = 0.9,
          dfCap = Some(8L))
        .select(col("id_1"), col("id_2"),
          round2(col("containment_1_in_2")).as("containment_1_in_2"),
          round2(col("containment_2_in_1")).as("containment_2_in_1"))
        .orderBy("id_1", "id_2")
    },
    Some("""WITH d0 AS (SELECT doc_id, text FROM documents),
art AS (SELECT doc_id // 5 + 1000000 AS doc_id,
          string_agg(text, ' ' ORDER BY doc_id) AS text
        FROM d0 GROUP BY doc_id // 5),
corpus AS (SELECT * FROM d0 UNION ALL SELECT * FROM art),
sh AS (SELECT doc_id,
    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      ELSE list_transform(range(1, len(toks)-1),
                          i -> array_to_string(toks[i:i+2], ' ')) END) AS s
  FROM (SELECT doc_id,
          list_filter(regexp_split_to_array(text, '\s+'), t -> length(t) > 0)
            AS toks FROM corpus)),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
keep AS (SELECT g FROM ex GROUP BY g HAVING COUNT(*) <= 8),
pex AS (SELECT ex.doc_id, ex.g FROM ex JOIN keep USING (g)),
isect AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2, COUNT(*) AS c
          FROM pex a JOIN pex b USING (g)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
sz AS (SELECT doc_id, len(s) AS n FROM sh),
p AS (SELECT id_1, id_2, c * 1.0 / sa.n AS c12, c * 1.0 / sb.n AS c21
      FROM isect JOIN sz sa ON sa.doc_id = id_1
                 JOIN sz sb ON sb.doc_id = id_2)
SELECT id_1, id_2,
  FLOOR(c12 * 100 + 0.5) / 100 AS containment_1_in_2,
  FLOOR(c21 * 100 + 0.5) / 100 AS containment_2_in_1
FROM p WHERE GREATEST(c12, c21) >= 0.9 ORDER BY id_1, id_2"""))

  private val x117 = DeclaredQuery("x117_robust_outliers",
    // MAD-based robust outlier flags (Profiling.robustOutliers — Hampel /
    // Iglewicz–Hoaglin): per event_type, |x − median| / (1.4826·MAD) > 3.5
    // — the data-quality screen whose scale estimate the outliers
    // themselves can't inflate (unlike σ). Flags genuinely fire on this
    // corpus (~4% of events). Both medians ride the distributed
    // exact-percentile recipe, whose (1−d)·lo + d·hi interpolation DuckDB's
    // QUANTILE_CONT shares (the x87 parity), so dev/mad/z are
    // bit-identical and the 3.5 cut compares identical doubles — the flag
    // needs no rounding tolerance.
    (s, d) => graft.operators.Profiling.robustOutliers(
        t(s, d, "events").select("event_id", "event_type", "value"),
        "event_type", "value")
      .select(col("event_id"), col("event_type"),
        round2(col("value")).as("value"),
        round4(col("group_median")).as("group_median"),
        round4(col("group_mad")).as("group_mad"),
        round4(col("robust_z")).as("robust_z"),
        col("is_outlier"))
      .orderBy("event_id", "event_type"),
    Some("""WITH m AS (
  SELECT event_type, QUANTILE_CONT(value, 0.5) AS med
  FROM events GROUP BY event_type),
d AS (SELECT e.event_id, e.event_type, e.value,
        ABS(e.value - m.med) AS dev, m.med
      FROM events e JOIN m USING (event_type)),
md AS (SELECT event_type, QUANTILE_CONT(dev, 0.5) AS mad
       FROM d GROUP BY event_type)
SELECT event_id, event_type,
  FLOOR(value * 100 + 0.5) / 100 AS value,
  FLOOR(med * 10000 + 0.5) / 10000 AS group_median,
  FLOOR(mad * 10000 + 0.5) / 10000 AS group_mad,
  CASE WHEN mad > 0 THEN
    FLOOR(dev / (1.4826 * mad) * 10000 + 0.5) / 10000 END AS robust_z,
  COALESCE(CASE WHEN mad > 0 THEN dev / (1.4826 * mad) END > 3.5, FALSE)
    AS is_outlier
FROM d JOIN md USING (event_type)
ORDER BY event_id, event_type"""))

  private val x118 = DeclaredQuery("x118_event_funnel",
    // ordered funnel progression (Funnel.funnelSteps): per user, how far
    // the view → click → purchase funnel closed as a time-ordered
    // subsequence — earliest-completion greedy (exact for subsequence
    // existence), strict inequality so same-timestamp events never
    // advance two steps. One filtered min-ts aggregation per step plus a
    // key join against the previous step's |users|-row frame; no windows,
    // no per-user timeline buffering. The gate runs on the deterministic
    // 1-in-7 event sample (event_id % 7 = 0): at ~67 events/user the FULL
    // stream trivially converts every user (150/150 — no partial faces to
    // pin), while the sample spreads users across ALL FOUR progression
    // levels at every scale factor, so drop-offs, order violations, and
    // conversions each exercise the hash. The oracle replays the
    // identical chained-MIN construction — exact µs timestamps, integer
    // counts, nothing to round.
    (s, d) => graft.operators.Funnel.funnelSteps(
        t(s, d, "events").where(pmod(col("event_id"), lit(7)) === 0)
          .select("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .orderBy("user_id"),
    Some("""WITH ev AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events WHERE event_id % 7 = 0),
t1 AS (
  SELECT user_id, MIN(ts) AS ts1
  FROM ev WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS ts2
  FROM ev e JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.ts1
  GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS ts3
  FROM ev e JOIN t2 ON t2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
  GROUP BY e.user_id)
SELECT u.user_id,
  CAST(CASE WHEN ts1 IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN ts2 IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN ts3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
    AS steps_completed,
  (ts3 IS NOT NULL) AS converted
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN t1 USING (user_id)
LEFT JOIN t2 USING (user_id)
LEFT JOIN t3 USING (user_id)
ORDER BY user_id"""))

  private val x119 = DeclaredQuery("x119_mojibake_flags",
    // encoding-corruption detection + repair (Scrub.mojibakeSignals /
    // fixMojibake — the ftfy-style screen every corpus build runs): text
    // that was UTF-8 on disk but decoded through Latin-1 somewhere
    // upstream carries lead+continuation artifacts ("cafÃ©", "ä¸­æ–‡"),
    // map-only regexp counts fused with the scan. The fixture corpus is
    // pure ASCII (corruption is a no-op on it), so the entry SEEDS
    // deterministic non-ASCII content — 1 + doc_id % 4 repeats of an
    // accented+CJK marker — and unions each seeded doc with its
    // UTF-8-bytes-read-as-Latin-1 corruption (the x67/x115 synthesize
    // discipline; the oracle regenerates the corruption per codepoint
    // from the UTF-8 byte formula). Faces: clean seeded rows read ratio
    // exactly 0.0 (a real é is not a lead byte); corrupted rows split
    // across the 0.02 flag cut by doc length vs seed repeats (both flag
    // faces fire at every SF); fix_restores pins the repair — Spark
    // re-encodes through Latin-1 and compares against the original
    // seeded text by id, the oracle asserts the construction inverse.
    // Ratios are ONE division of exact integer counts — the cut and the
    // round4 compare bit-identical doubles, no tolerance anywhere.
    (s, d) => {
      import graft.functions.Scrub
      val seeded = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          expr("repeat(' caf\u00e9 na\u00efve \u4e2d\u6587', " +
            "CAST(doc_id % 4 + 1 AS INT))")).as("text"))
      val corrupted = seeded.select((col("doc_id") + 1000000L).as("doc_id"),
        decode(encode(col("text"), "UTF-8"), "ISO-8859-1").as("text"))
      val uni = seeded.unionByName(corrupted)
      val sig = Scrub.mojibakeSignals(col("text"))
      val orig = seeded.select(col("doc_id").as("__bid"),
        col("text").as("__orig"))
      uni.select(col("doc_id"), sig.as("sig"),
          Scrub.fixMojibake(col("text")).as("__fixed"))
        .join(orig, pmod(col("doc_id"), lit(1000000L)) === col("__bid"))
        .select(col("doc_id"),
          col("sig.n_chars").as("n_chars"),
          col("sig.n_2byte").as("n_2byte"),
          col("sig.n_3byte").as("n_3byte"),
          round4(col("sig.artifact_ratio")).as("artifact_ratio"),
          (col("sig.artifact_ratio") > 0.02).as("is_mojibake"),
          (col("__fixed") === col("__orig")).as("fix_restores"))
        .orderBy("doc_id")
    },
    Some("""WITH seeded AS (
  SELECT doc_id,
    text || repeat(' café naïve 中文', CAST(doc_id % 4 + 1 AS INT)) AS text
  FROM documents),
corrupted AS (
  SELECT doc_id + 1000000 AS doc_id,
    array_to_string(list_transform(string_split(text, ''), c ->
      CASE WHEN unicode(c) < 128 THEN c
           WHEN unicode(c) < 2048 THEN
             chr(192 + unicode(c) // 64) || chr(128 + unicode(c) % 64)
           ELSE chr(224 + unicode(c) // 4096)
             || chr(128 + (unicode(c) // 64) % 64)
             || chr(128 + unicode(c) % 64) END), '') AS text
  FROM seeded),
uni AS (SELECT * FROM seeded UNION ALL SELECT * FROM corrupted),
sig AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(regexp_extract_all(text, '[\xC2-\xDF][\x80-\xBF]')) AS BIGINT) AS n_2byte,
    CAST(len(regexp_extract_all(text, '[\xE0-\xEF][\x80-\xBF]{2}')) AS BIGINT) AS n_3byte,
    CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT) AS n_repl
  FROM uni)
SELECT doc_id, n_chars, n_2byte, n_3byte,
  FLOOR((n_2byte * 2 + n_3byte * 3 + n_repl) * 1.0
        / NULLIF(n_chars, 0) * 10000 + 0.5) / 10000 AS artifact_ratio,
  (n_2byte * 2 + n_3byte * 3 + n_repl) * 1.0 / NULLIF(n_chars, 0) > 0.02
    AS is_mojibake,
  TRUE AS fix_restores
FROM sig ORDER BY doc_id"""))

  private val x120 = DeclaredQuery("x120_sft_validation",
    // conversation-schema validation (Sft.validateChat) — the QA gate
    // every SFT build runs BEFORE assembly: contiguous turn indexes,
    // known roles, system|user start, strict user/assistant alternation
    // after at most one leading system, non-blank content, assistant
    // final turn — plus the FIRST violation in fixed priority order.
    // The x94 synthetic dialogues (doc_id div 5 = conversation, roles by
    // fixed rule) are all VALID, so the entry mutates each conversation
    // by bin % 7 to exercise every violation face: 1 drops turn 3
    // (idx_gap), 2 renames turn 0's role to 'tool' (unknown_role),
    // 3 swaps the roles of turns 1 and 2 (broken_alternation), 4 blanks
    // turn 2's content (empty_content), 5 drops the final assistant turn
    // (no_assistant_end — indexes stay contiguous), 6 makes turn 0 an
    // assistant turn (bad_start), 0 stays valid. Every output column is
    // a boolean/string of exact comparisons folded in TURN order
    // (sort_array; partitioning-invariant) — nothing to round; the
    // oracle replays the checks with the identical list fold.
    (s, d) => {
      val base = t(s, d, "documents").select(
        expr("doc_id div 5").as("conv_id"),
        pmod(col("doc_id"), lit(5)).cast("long").as("turn_idx"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("system"))
          .when(pmod(col("doc_id"), lit(5)) % 2 === 1, lit("user"))
          .otherwise(lit("assistant")).as("role"),
        col("text").as("content"))
      val m = pmod(col("conv_id"), lit(7L))
      val turns = base
        .where(!((m === 1 && col("turn_idx") === 3) ||
                 (m === 5 && col("turn_idx") === 4)))
        .select(col("conv_id"), col("turn_idx"),
          when(m === 2 && col("turn_idx") === 0, lit("tool"))
            .when(m === 3 && col("turn_idx") === 1, lit("assistant"))
            .when(m === 3 && col("turn_idx") === 2, lit("user"))
            .when(m === 6 && col("turn_idx") === 0, lit("assistant"))
            .otherwise(col("role")).as("role"),
          when(m === 4 && col("turn_idx") === 2, lit("   "))
            .otherwise(col("content")).as("content"))
      graft.operators.Sft
        .validateChat(turns, "conv_id", "turn_idx", "role", "content")
        .orderBy("conv_id")
    },
    Some("""WITH base AS (
  SELECT doc_id // 5 AS conv_id, doc_id % 5 AS turn_idx,
         CASE WHEN doc_id % 5 = 0 THEN 'system'
              WHEN (doc_id % 5) % 2 = 1 THEN 'user'
              ELSE 'assistant' END AS role,
         text AS content
  FROM documents),
turns AS (
  SELECT conv_id, turn_idx,
    CASE WHEN conv_id % 7 = 2 AND turn_idx = 0 THEN 'tool'
         WHEN conv_id % 7 = 3 AND turn_idx = 1 THEN 'assistant'
         WHEN conv_id % 7 = 3 AND turn_idx = 2 THEN 'user'
         WHEN conv_id % 7 = 6 AND turn_idx = 0 THEN 'assistant'
         ELSE role END AS role,
    CASE WHEN conv_id % 7 = 4 AND turn_idx = 2 THEN '   '
         ELSE content END AS content
  FROM base
  WHERE NOT ((conv_id % 7 = 1 AND turn_idx = 3)
          OR (conv_id % 7 = 5 AND turn_idx = 4))),
conv AS (
  SELECT conv_id,
    list({'i': CAST(turn_idx AS BIGINT), 'r': role, 'c': content}
         ORDER BY turn_idx) AS l,
    list(role ORDER BY turn_idx) AS ra
  FROM turns GROUP BY conv_id),
body AS (
  SELECT *, CASE WHEN ra[1] = 'system' THEN ra[2:] ELSE ra END AS b
  FROM conv),
checks AS (
  SELECT conv_id, CAST(len(l) AS BIGINT) AS n_turns,
    list_transform(l, t -> t.i) = range(0, len(l)) AS idx_contiguous,
    list_aggregate(list_transform(ra, r ->
      r IN ('system', 'user', 'assistant')), 'bool_and') AS roles_known,
    ra[1] IN ('system', 'user') AS starts_ok,
    CASE WHEN len(b) = 0 THEN TRUE
      ELSE list_aggregate(list_transform(range(1, len(b) + 1),
        i -> b[i] = CASE WHEN i % 2 = 1 THEN 'user' ELSE 'assistant' END),
        'bool_and') END AS alternates_ok,
    list_aggregate(list_transform(l, t ->
      COALESCE(length(trim(t.c)) > 0, FALSE)), 'bool_and')
      AS content_nonempty,
    ra[-1] = 'assistant' AS ends_assistant
  FROM body)
SELECT conv_id, n_turns, idx_contiguous, roles_known, starts_ok,
  alternates_ok, content_nonempty, ends_assistant,
  (idx_contiguous AND roles_known AND starts_ok AND alternates_ok
   AND content_nonempty AND ends_assistant) AS is_valid,
  CASE WHEN NOT idx_contiguous THEN 'idx_gap'
       WHEN NOT roles_known THEN 'unknown_role'
       WHEN NOT starts_ok THEN 'bad_start'
       WHEN NOT alternates_ok THEN 'broken_alternation'
       WHEN NOT content_nonempty THEN 'empty_content'
       WHEN NOT ends_assistant THEN 'no_assistant_end'
  END AS first_violation
FROM checks ORDER BY conv_id"""))

  private val x121 = DeclaredQuery("x121_annotator_agreement",
    // inter-annotator agreement (Agreement.cohenKappaPairs + fleissKappa) —
    // the label-QA gate run before any human-annotated SFT/preference/eval
    // set is trusted. A deterministic 3-rater panel over documents: the
    // latent label is n_chars parity and rater r flips it on docs where
    // (doc_id*3 + r) % 11 = 0 — three overlapping 1-in-11 noise patterns,
    // so agreement is high but imperfect and every κ lands strictly in
    // (0, 1). Output = one row per rater pair (Cohen κ over the co-rated
    // items) with the panel-wide Fleiss κ crossed in as a constant column.
    // ORACLED with NO rounding pin: every statistic is a ratio of integer
    // aggregates (agreement counts, marginal-count products, squared
    // category counts) — integer sums are fold-order-free and the final
    // IEEE divisions/subtractions are spelled identically in both engines,
    // so the kappas are bit-identical doubles.
    (s, d) => {
      val ann = t(s, d, "documents")
        .select(col("doc_id"),
          explode(array(lit(1), lit(2), lit(3))).as("rater"),
          col("n_chars"))
        .select(col("doc_id").as("item"), col("rater"),
          when((col("doc_id") * 3 + col("rater")) % 11 === 0,
            when(col("n_chars") % 2 === 0, lit("drop")).otherwise(lit("keep")))
            .otherwise(
              when(col("n_chars") % 2 === 0, lit("keep")).otherwise(lit("drop")))
            .as("label"))
      val cohen = graft.operators.Agreement
        .cohenKappaPairs(ann, "item", "rater", "label")
      val fl = graft.operators.Agreement
        .fleissKappa(ann, "item", "rater", "label")
        .select(col("kappa").as("fleiss_kappa"))
      cohen.crossJoin(broadcast(fl)).orderBy("rater_a", "rater_b")
    },
    Some("""WITH ann AS (
  SELECT d.doc_id AS item, r.r AS rater,
    CASE WHEN (d.doc_id * 3 + r.r) % 11 = 0
      THEN (CASE WHEN d.n_chars % 2 = 0 THEN 'drop' ELSE 'keep' END)
      ELSE (CASE WHEN d.n_chars % 2 = 0 THEN 'keep' ELSE 'drop' END)
    END AS label
  FROM documents d CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS r) r),
pairs AS (
  SELECT a.rater AS rater_a, b.rater AS rater_b,
         a.label AS la, b.label AS lb
  FROM ann a JOIN ann b ON a.item = b.item AND a.rater < b.rater),
agree AS (
  SELECT rater_a, rater_b, COUNT(*) AS n_items,
    SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agr
  FROM pairs GROUP BY rater_a, rater_b),
ma AS (SELECT rater_a, rater_b, la, COUNT(*) AS ca
       FROM pairs GROUP BY rater_a, rater_b, la),
mb AS (SELECT rater_a, rater_b, lb, COUNT(*) AS cb
       FROM pairs GROUP BY rater_a, rater_b, lb),
pe AS (
  SELECT ma.rater_a, ma.rater_b, SUM(ca * cb) AS pe_num
  FROM ma JOIN mb ON ma.rater_a = mb.rater_a AND ma.rater_b = mb.rater_b
    AND ma.la = mb.lb
  GROUP BY ma.rater_a, ma.rater_b),
cohen AS (
  SELECT g.rater_a, g.rater_b, g.n_items,
    CAST(agr AS DOUBLE) / g.n_items AS po,
    CAST(pe_num AS DOUBLE) / (g.n_items * g.n_items) AS pe
  FROM agree g JOIN pe p
    ON g.rater_a = p.rater_a AND g.rater_b = p.rater_b),
cells AS (SELECT item, label, COUNT(*) AS n_ic FROM ann GROUP BY item, label),
peritem AS (
  SELECT item, SUM(n_ic) AS r, SUM(n_ic * n_ic) AS sumsq
  FROM cells GROUP BY item),
fl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
    CAST(MAX(r) AS BIGINT) AS n_raters,
    CAST(SUM(sumsq) AS BIGINT) AS tot_sumsq
  FROM peritem),
cat AS (
  SELECT CAST(SUM(n_c * n_c) AS BIGINT) AS tot_catsq FROM (
    SELECT CAST(SUM(n_ic) AS BIGINT) AS n_c FROM cells GROUP BY label) z),
fk AS (
  SELECT
    CAST(tot_sumsq - n_items * n_raters AS DOUBLE)
      / (n_items * n_raters * (n_raters - 1)) AS p_bar,
    CAST(tot_catsq AS DOUBLE)
      / ((n_items * n_raters) * (n_items * n_raters)) AS p_e
  FROM fl CROSS JOIN cat)
SELECT c.rater_a, c.rater_b, c.n_items, c.po, c.pe,
  (c.po - c.pe) / (1.0 - c.pe) AS kappa,
  (f.p_bar - f.p_e) / (1.0 - f.p_e) AS fleiss_kappa
FROM cohen c CROSS JOIN fk f
ORDER BY rater_a, rater_b"""))

  /** x122's DuckDB oracle: the identical match derivation (block-partitioned
    * LAG chain, longer-doc-wins with a lexicographic tie rule), the identical
    * smoothed pair/wins frames, and the 15 MM iterations UNROLLED as chained
    * CTEs (the x114 technique — branch-free float iterate, so cross-engine
    * fold divergence never compounds; round6 pins the result). */
  private val X122OracleSql: String = {
    val base = """WITH m0 AS (
  SELECT source, n_chars,
    LAG(source) OVER (PARTITION BY doc_id // 1000 ORDER BY doc_id) AS psrc,
    LAG(n_chars) OVER (PARTITION BY doc_id // 1000 ORDER BY doc_id) AS pn
  FROM documents),
g AS (
  SELECT CASE WHEN n_chars > pn THEN source
              WHEN n_chars < pn THEN psrc
              ELSE LEAST(source, psrc) END AS w,
         CASE WHEN n_chars > pn THEN psrc
              WHEN n_chars < pn THEN source
              ELSE GREATEST(source, psrc) END AS l
  FROM m0 WHERE psrc IS NOT NULL AND psrc <> source),
pairs AS (
  SELECT LEAST(w, l) AS i, GREATEST(w, l) AS j, COUNT(*) AS n,
    SUM(CASE WHEN w < l THEN 1 ELSE 0 END) AS wins_i
  FROM g GROUP BY LEAST(w, l), GREATEST(w, l)),
sp AS MATERIALIZED (
  SELECT i, j, CAST(n + 1 AS DOUBLE) AS ns,
    wins_i + 0.5 AS wsi, (n - wins_i) + 0.5 AS wsj, n, wins_i
  FROM pairs),
directed AS MATERIALIZED (
  SELECT i AS a, j AS b, ns FROM sp
  UNION ALL SELECT j AS a, i AS b, ns FROM sp),
wins AS MATERIALIZED (
  SELECT item, SUM(ww) AS W, CAST(SUM(n) AS BIGINT) AS n_games,
    CAST(SUM(nw) AS BIGINT) AS n_wins
  FROM (
    SELECT i AS item, wsi AS ww, n, wins_i AS nw FROM sp
    UNION ALL SELECT j AS item, wsj AS ww, n, n - wins_i AS nw FROM sp) z
  GROUP BY item),
kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM wins),
it0 AS MATERIALIZED (SELECT item, 1.0 AS s FROM wins)"""
    val iters = (1 to 15).map { t =>
      s""",
it$t AS MATERIALIZED (
  SELECT d.item, w.W / d.dn AS s FROM (
    SELECT m.a AS item, SUM(m.ns / (ia.s + ib.s)) AS dn
    FROM directed m
    JOIN it${t - 1} ia ON m.a = ia.item
    JOIN it${t - 1} ib ON m.b = ib.item
    GROUP BY m.a) d JOIN wins w ON d.item = w.item)"""
    }.mkString
    base + iters + """,
fin AS (
  SELECT w.item, w.n_games, w.n_wins,
    FLOOR(f.s * (SELECT k FROM kk) / (SELECT SUM(s) FROM it15)
      * 1000000 + 0.5) / 1000000 AS strength
  FROM wins w JOIN it15 f ON w.item = f.item)
SELECT item, n_games, n_wins, strength,
  CAST(DENSE_RANK() OVER (ORDER BY strength DESC, item) AS BIGINT) AS rk
FROM fin ORDER BY rk, item"""
  }

  private val x122 = DeclaredQuery("x122_bradley_terry",
    // Bradley–Terry strength ranking (BradleyTerry.fit) — the arena/
    // leaderboard aggregation: which SOURCE wins head-to-head document
    // matchups once strength of schedule is accounted for. Matches are a
    // deterministic chain: consecutive docs within each 1000-doc block
    // (block-partitioned LAG — no global-order window), longer doc wins,
    // ties to the lexicographically smaller source, self-matches dropped.
    // 15 MM iterations (Hunter 2004) with 0.5 phantom wins per observed
    // pair direction; Σ strength = |sources|. ORACLED via 15 UNROLLED
    // CTE iterations (the x114 PageRank technique): the iterate is
    // branch-free float arithmetic, so the ~1e-15 per-pass fold
    // divergence never compounds into a different trajectory and the
    // 6-decimal FLOOR pin makes strengths AND the dense rank exact.
    (s, d) => {
      val blockW = Window.partitionBy(expr("doc_id div 1000"))
        .orderBy("doc_id")
      val m0 = t(s, d, "documents")
        .select(col("source"), col("n_chars"),
          lag("source", 1).over(blockW).as("psrc"),
          lag("n_chars", 1).over(blockW).as("pn"))
      val g = m0
        .where(col("psrc").isNotNull && col("psrc") =!= col("source"))
        .select(
          when(col("n_chars") > col("pn"), col("source"))
            .when(col("n_chars") < col("pn"), col("psrc"))
            .otherwise(least(col("source"), col("psrc"))).as("w"),
          when(col("n_chars") > col("pn"), col("psrc"))
            .when(col("n_chars") < col("pn"), col("source"))
            .otherwise(greatest(col("source"), col("psrc"))).as("l"))
      val fitted = graft.operators.BradleyTerry.fit(g, "w", "l", iters = 15)
      val pinned = fitted.select(col("item"), col("n_games"), col("n_wins"),
        (floor(col("strength") * 1000000 + 0.5) / 1000000).as("strength"))
      pinned
        .withColumn("rk", dense_rank().over(
          Window.orderBy(col("strength").desc, col("item"))).cast("long"))
        .orderBy("rk", "item")
    },
    Some(X122OracleSql))

  private val x123 = DeclaredQuery("x123_vocab_richness",
    // vocabulary-richness estimators (Relevance.vocabRichness) — the
    // under-sampling read before trusting "vocab size" from a finite
    // corpus: per language, Chao1's bias-corrected lower bound on the
    // TRUE type count (V + F1(F1−1)/(2(F2+1))), the Good–Turing unseen
    // mass F1/N (probability the next token is a new type), and Simpson
    // repetition concentration Σn(n−1)/(N(N−1)). One (lang, token) count
    // shuffle + one lang aggregate. ORACLED with NO rounding pin: all
    // integer-ratio statistics; the pair sum folds in decimal(38,0) ↔
    // HUGEINT so it is exact on both engines, and the final IEEE
    // divisions are spelled identically.
    (s, d) => graft.operators.Relevance
      .vocabRichness(t(s, d, "documents"), "lang", "text")
      .orderBy("lang"),
    Some("""WITH toks AS (
  SELECT lang AS g,
    UNNEST(list_filter(regexp_split_to_array(text, '\s+'),
      x -> length(x) > 0)) AS w
  FROM documents),
cnt AS (SELECT g, w, COUNT(*) AS n_w FROM toks GROUP BY g, w),
agg AS (
  SELECT g, CAST(SUM(n_w) AS BIGINT) AS n_tokens,
    CAST(COUNT(*) AS BIGINT) AS vocab,
    CAST(SUM(CASE WHEN n_w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
    CAST(SUM(CASE WHEN n_w = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
    SUM(n_w * (n_w - 1)) AS pairs
  FROM cnt GROUP BY g)
SELECT g AS lang, n_tokens, vocab, f1, f2,
  CAST(vocab AS DOUBLE) + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)) AS chao1,
  CAST(f1 AS DOUBLE) / n_tokens AS gt_unseen_mass,
  CASE WHEN n_tokens > 1 THEN CAST(pairs AS DOUBLE)
    / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))
  END AS simpson
FROM agg ORDER BY lang"""))

  private val x124 = DeclaredQuery("x124_conformal_threshold",
    // split-conformal selection thresholds (Conformal.quantileThresholds +
    // coverage) — the distribution-free filter-calibration gate: the
    // ⌈(n+1)(1−α)⌉-th smallest calibration score guarantees
    // P(s_new ≤ q̂) ≥ 1−α for exchangeable scores, no model assumption.
    // Calibration/test split is the x06d sha256 hash at the exact-binary
    // 0.5 boundary (hash-random ⇒ exchangeable); scores are n_chars.
    // ORACLED with NO rounding pin: thresholds are DATA VALUES picked by
    // integer-rank comparison, coverage is an exact integer ratio, and
    // the only float ops (the ceil rank formula, the 3σ binomial slack)
    // are single IEEE expressions spelled identically. At this n every
    // α's rank is attainable; the NULL-threshold fail-honest face is
    // spec-pinned (ConformalSpec) rather than gate-exercised.
    (s, d) => {
      val withS = graft.operators.Sampling
        .splitAssign(t(s, d, "documents"), "doc_id",
          Seq("cal" -> 0.5, "test" -> 0.5))
        .select(col("split"), col("n_chars").cast("double").as("s"))
      val thr = graft.operators.Conformal.quantileThresholds(
        withS.where(col("split") === "cal"), "s", Seq(0.2, 0.1, 0.05))
      graft.operators.Conformal.coverage(
          withS.where(col("split") === "test"), "s", thr)
        .orderBy("alpha")
    },
    Some("""WITH u AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS s,
    CAST(('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 AS h
  FROM documents),
cal AS (SELECT s FROM u WHERE h < 0.5),
test AS (SELECT s FROM u WHERE h >= 0.5),
cum AS (
  SELECT s, SUM(c) OVER (ORDER BY s) AS cum FROM (
    SELECT s, COUNT(*) AS c FROM cal GROUP BY s) z),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
ks AS (
  SELECT alpha, n_cal,
    CAST(CEIL((n_cal + 1) * (1.0 - alpha)) AS BIGINT) AS k
  FROM (SELECT UNNEST([0.2, 0.1, 0.05]) AS alpha) a CROSS JOIN n),
thr AS (
  SELECT alpha, n_cal, k, MIN(s) AS threshold
  FROM ks LEFT JOIN cum ON cum.cum >= ks.k
  GROUP BY alpha, n_cal, k),
cov AS (
  SELECT alpha, n_cal, k, threshold,
    CAST(COUNT(*) AS BIGINT) AS n_test,
    SUM(CASE WHEN threshold IS NOT NULL AND t.s <= threshold THEN 1
             WHEN threshold IS NOT NULL THEN 0 END) AS c
  FROM test t CROSS JOIN thr
  GROUP BY alpha, n_cal, k, threshold)
SELECT alpha, n_cal, k, threshold, n_test,
  CAST(c AS DOUBLE) / n_test AS test_coverage,
  CAST(c AS DOUBLE) / n_test >= 1.0 - alpha
    - 3.0 * SQRT(alpha * (1.0 - alpha) / n_test) AS meets_guarantee
FROM cov ORDER BY alpha"""))

  private val x125 = DeclaredQuery("x125_spearman",
    // Spearman rank correlation (Profiling.spearman) — the scorer-
    // comparison read: do two signals agree on ORDER (what selection and
    // ranking actually consume) regardless of scale. Two faces: length in
    // chars vs length in tokens (strongly monotone, ρ→1 territory) and
    // length vs doc_id (independent, ρ≈0). Average-of-ties fractional
    // ranks via the distinct-value cumulative trick — no row-level
    // global window; ORACLED with the round6 pin (rank sums are exact
    // halves at gate scale, the pin covers the final float fold).
    (s, d) => {
      val v = t(s, d, "documents").select(
        col("doc_id").cast("double").as("id"),
        col("n_chars").cast("double").as("nc"),
        size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
          .cast("double").as("nt"))
      def face(name: String, a: String, b: String) =
        graft.operators.Profiling.spearman(v, a, b)
          .select(lit(name).as("pair"), col("n"),
            (floor(col("rho") * 1000000 + 0.5) / 1000000).as("rho"))
      face("n_chars~n_tokens", "nc", "nt")
        .unionAll(face("n_chars~doc_id", "nc", "id"))
        .orderBy("pair")
    },
    Some("""WITH v AS (
  SELECT CAST(doc_id AS DOUBLE) AS id, CAST(n_chars AS DOUBLE) AS nc,
    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      x -> length(x) > 0)) AS DOUBLE) AS nt
  FROM documents),
ra AS (SELECT nc, COALESCE(SUM(c) OVER (ORDER BY nc
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + CAST(c + 1 AS DOUBLE) / 2.0 AS r
       FROM (SELECT nc, COUNT(*) AS c FROM v GROUP BY nc) z),
rb AS (SELECT nt, COALESCE(SUM(c) OVER (ORDER BY nt
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + CAST(c + 1 AS DOUBLE) / 2.0 AS r
       FROM (SELECT nt, COUNT(*) AS c FROM v GROUP BY nt) z),
rc AS (SELECT id, COALESCE(SUM(c) OVER (ORDER BY id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + CAST(c + 1 AS DOUBLE) / 2.0 AS r
       FROM (SELECT id, COUNT(*) AS c FROM v GROUP BY id) z),
m1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM (SELECT ra.r AS x, rb.r AS y
        FROM v JOIN ra USING (nc) JOIN rb USING (nt)) j),
m2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM (SELECT ra.r AS x, rc.r AS y
        FROM v JOIN ra USING (nc) JOIN rc USING (id)) j)
SELECT pair, n,
  FLOOR((n * sxy - sx * sy)
    / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
    * 1000000 + 0.5) / 1000000 AS rho
FROM (
  SELECT 'n_chars~n_tokens' AS pair, * FROM m1
  UNION ALL SELECT 'n_chars~doc_id' AS pair, * FROM m2) u
ORDER BY pair"""))

  private val x126 = DeclaredQuery("x126_cusum_drift",
    // Two-sided CUSUM drift monitor (ChangePoint.cusum) over per-type
    // daily event counts — "when did this source leave its in-control
    // level?". In-control target = per-type integer mean (div — truncating
    // on these positive counts, = DuckDB's flooring // there), allowance
    // k = max(1, target div 20), decision interval h = 5k — all exact
    // BIGINTs, so every prefix sum is an exact integer in a double and the
    // statistics are fold-order-free (hash-safe raw, no rounding pin).
    // Oracle replays Page's closed form (P_i − min(0, min_j P_j)) with the
    // same window spelling.
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      val levels = daily.groupBy("event_type")
        .agg(sum("cnt").as("__sc"), count(lit(1)).as("__nd"))
        .select(col("event_type"), expr("__sc div __nd").as("target"))
        .withColumn("k", greatest(lit(1L), expr("target div 20")))
        .withColumn("h", col("k") * 5)
      graft.operators.ChangePoint.cusum(
          daily.join(levels, Seq("event_type")),
          "event_type", "day", "cnt", col("target"), col("k"), col("h"))
        .select(col("event_type"), col("day"), col("cnt"),
          col("cusum_up"), col("cusum_dn"), col("alarm_up"), col("alarm_dn"))
        .orderBy("event_type", "day")
    },
    Some("""WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2),
lv AS (
  SELECT event_type,
    CAST(SUM(cnt) // COUNT(*) AS BIGINT) AS target,
    CAST(GREATEST(1, (SUM(cnt) // COUNT(*)) // 20) AS BIGINT) AS k
  FROM d GROUP BY 1),
j AS (
  SELECT d.event_type, d.day, d.cnt,
    CAST(lv.target AS DOUBLE) AS t, CAST(lv.k AS DOUBLE) AS kk,
    CAST(lv.k * 5 AS DOUBLE) AS h
  FROM d JOIN lv USING (event_type)),
p AS (
  SELECT *,
    SUM(CAST(cnt AS DOUBLE) - t - kk) OVER w AS p_up,
    SUM(t - CAST(cnt AS DOUBLE) - kk) OVER w AS p_dn
  FROM j
  WINDOW w AS (PARTITION BY event_type ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
c AS (
  SELECT *,
    p_up - LEAST(MIN(p_up) OVER w, 0) AS cusum_up,
    p_dn - LEAST(MIN(p_dn) OVER w, 0) AS cusum_dn
  FROM p
  WINDOW w AS (PARTITION BY event_type ORDER BY day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day, cnt, cusum_up, cusum_dn,
  cusum_up > h AS alarm_up, cusum_dn > h AS alarm_dn
FROM c ORDER BY event_type, day"""))

  private val x127 = DeclaredQuery("x127_mann_whitney",
    // Mann-Whitney U (TwoSample.mannWhitneyU) — the nonparametric "does
    // source A stochastically dominate source B?" read over n_chars. Two
    // faces: de~fr languages (the one generator pair with a real rank
    // shift — z ≈ −2.0, significant at 0.05) and src0~src1 sources (same
    // generator, z near 0 — the null face). Ranks are exact
    // halves via the distinct-value trick (the x125 machinery), U and the
    // tie term exact; round6 pins the final sqrt+division fold.
    (s, d) => {
      val docs = t(s, d, "documents")
      def face(name: String, gc: String, a: String, b: String) =
        graft.operators.TwoSample.mannWhitneyU(docs, gc, "n_chars", a, b)
          .select(lit(name).as("pair"), col("n_a"), col("n_b"), col("u_a"),
            (floor(col("z") * 1000000 + 0.5) / 1000000).as("z"))
      face("lang:de~fr", "lang", "de", "fr")
        .unionAll(face("source:src0~src1", "source", "src0", "src1"))
        .orderBy("pair")
    },
    Some("""WITH face AS (
  SELECT 'lang:de~fr' AS pair, lang AS g, 'de' AS ga, 'fr' AS gb,
    CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang IN ('de', 'fr')
  UNION ALL
  SELECT 'source:src0~src1', source, 'src0', 'src1',
    CAST(n_chars AS DOUBLE) FROM documents WHERE source IN ('src0', 'src1')),
c AS (
  SELECT pair, ga, gb, v,
    SUM(CASE WHEN g = ga THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN g = gb THEN 1 ELSE 0 END) AS cb
  FROM face GROUP BY pair, ga, gb, v),
r AS (
  SELECT *,
    CAST(COALESCE(SUM(ca + cb) OVER (PARTITION BY pair ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      + CAST(ca + cb + 1 AS DOUBLE) / 2.0 AS rk
  FROM c),
m AS (
  SELECT pair,
    CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
    SUM(CAST(ca AS DOUBLE) * rk) AS ra,
    CAST(SUM((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS DOUBLE)
      AS ties
  FROM r GROUP BY pair),
u AS (
  SELECT pair, n_a, n_b,
    ra - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE) / 2.0 AS u_a,
    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
      * (CAST(n_a + n_b + 1 AS DOUBLE)
        - ties / (CAST(n_a + n_b AS DOUBLE)
          * CAST(n_a + n_b - 1 AS DOUBLE))) AS vr
  FROM m)
SELECT pair, n_a, n_b, u_a,
  CASE WHEN vr <= 0.0 THEN NULL ELSE
    FLOOR((u_a - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
      / SQRT(vr) * 1000000 + 0.5) / 1000000 END AS z
FROM u ORDER BY pair"""))

  private val x128 = DeclaredQuery("x128_ks_test",
    // Two-sample Kolmogorov-Smirnov (TwoSample.ksTest) — the largest ECDF
    // gap and WHERE it sits, same signal/null face pair as x127. The gap is the exact
    // integer |cum_a·n_b − cum_b·n_a| divided ONCE at the end, so d is one
    // correctly-rounded division — no pin; ks_at is a data value with the
    // documented leftmost tie rule.
    (s, d) => {
      val docs = t(s, d, "documents")
      def face(name: String, gc: String, a: String, b: String) =
        graft.operators.TwoSample.ksTest(docs, gc, "n_chars", a, b)
          .select(lit(name).as("pair"), col("n_a"), col("n_b"),
            col("d"), col("ks_at"))
      face("lang:de~fr", "lang", "de", "fr")
        .unionAll(face("source:src0~src1", "source", "src0", "src1"))
        .orderBy("pair")
    },
    Some("""WITH face AS (
  SELECT 'lang:de~fr' AS pair, lang AS g, 'de' AS ga, 'fr' AS gb,
    CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang IN ('de', 'fr')
  UNION ALL
  SELECT 'source:src0~src1', source, 'src0', 'src1',
    CAST(n_chars AS DOUBLE) FROM documents WHERE source IN ('src0', 'src1')),
c AS (
  SELECT pair, v,
    SUM(CASE WHEN g = ga THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN g = gb THEN 1 ELSE 0 END) AS cb
  FROM face GROUP BY pair, v),
cum AS (
  SELECT pair, v,
    SUM(ca) OVER w AS cum_a, SUM(cb) OVER w AS cum_b
  FROM c
  WINDOW w AS (PARTITION BY pair ORDER BY v
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
tot AS (
  SELECT pair, CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b
  FROM c GROUP BY pair),
g AS (
  SELECT cum.pair, cum.v, tot.n_a, tot.n_b,
    ABS(cum_a * tot.n_b - cum_b * tot.n_a) AS gap
  FROM cum JOIN tot ON cum.pair = tot.pair)
SELECT pair, n_a, n_b,
  CAST(MAX(gap) AS DOUBLE)
    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d,
  FIRST(v ORDER BY gap DESC, v) AS ks_at
FROM g GROUP BY pair, n_a, n_b ORDER BY pair"""))

  private val x129 = DeclaredQuery("x129_bh_fdr",
    // Benjamini-Hochberg FDR selection (MultipleTesting.benjaminiHochberg)
    // at α=0.1 over a deterministically constructed p-value column:
    // hash-uniform u = (((doc_id mod 1000003)·2654435761) mod 1000003)
    // / 1000003 — the doc_id reduces mod-first so the product stays ≤
    // 2.7e15 at ANY id universe (the raw product overflows BIGINT once
    // ids carry 1e8-scale copy offsets — measured at the 100× smoke), scaled
    // ×0.002 for zh docs (the planted signal). The step-up threshold then
    // rejects the zh block PLUS the step-up tail of small non-zh p's —
    // both procedure faces fire. p is pure identical-IEEE arithmetic
    // (BIGINT mod, one division, one multiply), threshold a data value,
    // flags booleans — hash-safe raw.
    (s, d) => {
      val p = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          ((((col("doc_id") % lit(1000003L)) * lit(2654435761L))
            % lit(1000003L))
            .cast("double") / lit(1000003.0)).as("__u"))
        .withColumn("p",
          when(col("lang") === "zh", col("__u") * lit(0.002))
            .otherwise(col("__u")))
      graft.operators.MultipleTesting.benjaminiHochberg(p, "p", 0.1)
        .select(col("doc_id"), col("p"), col("bh_keep"))
        .orderBy("doc_id")
    },
    Some("""WITH b AS (
  SELECT doc_id,
    CASE WHEN lang = 'zh' THEN u * 0.002 ELSE u END AS p
  FROM (
    SELECT doc_id, lang,
      CAST(((doc_id % 1000003) * 2654435761) % 1000003 AS DOUBLE)
        / 1000003.0 AS u
    FROM documents) z),
c AS (SELECT p, COUNT(*) AS c FROM b GROUP BY p),
r AS (
  SELECT p, c, SUM(c) OVER (ORDER BY p
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rk
  FROM c),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM b),
thr AS (
  SELECT MAX(CASE WHEN p * CAST(m.m AS DOUBLE)
      <= CAST(rk AS DOUBLE) * 0.1 THEN p END) AS threshold
  FROM r, m)
SELECT doc_id, p,
  threshold IS NOT NULL AND p <= threshold AS bh_keep
FROM b, thr ORDER BY doc_id"""))

  private val x130 = DeclaredQuery("x130_welch_t",
    // Welch's unequal-variance t (TwoSample.welchT) — the parametric mean
    // comparison next to x127's rank read, same signal/null face pair.
    // ONE conditional-moments aggregate (map-side partials, no window, no
    // distinct-value frame); n_chars is integer-valued so the moment sums
    // are exact and fold-order-free; means are single divisions of exact
    // integers (raw), t/df carry the sqrt+division folds (round6 pin).
    (s, d) => {
      val docs = t(s, d, "documents")
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def face(name: String, gc: String, a: String, b: String) =
        graft.operators.TwoSample.welchT(docs, gc, "n_chars", a, b)
          .select(lit(name).as("pair"), col("n_a"), col("n_b"),
            col("mean_a"), col("mean_b"),
            r6(col("t")).as("t"), r6(col("df")).as("df"))
      face("lang:de~fr", "lang", "de", "fr")
        .unionAll(face("source:src0~src1", "source", "src0", "src1"))
        .orderBy("pair")
    },
    Some("""WITH face AS (
  SELECT 'lang:de~fr' AS pair, lang AS g, 'de' AS ga, 'fr' AS gb,
    CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang IN ('de', 'fr')
  UNION ALL
  SELECT 'source:src0~src1', source, 'src0', 'src1',
    CAST(n_chars AS DOUBLE) FROM documents WHERE source IN ('src0', 'src1')),
m AS (
  SELECT pair,
    CAST(SUM(CASE WHEN g = ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN g = gb THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN g = ga THEN v ELSE 0.0 END) AS sa,
    SUM(CASE WHEN g = gb THEN v ELSE 0.0 END) AS sb,
    SUM(CASE WHEN g = ga THEN v * v ELSE 0.0 END) AS qa,
    SUM(CASE WHEN g = gb THEN v * v ELSE 0.0 END) AS qb
  FROM face GROUP BY pair),
w AS (
  SELECT pair, n_a, n_b,
    sa / CAST(n_a AS DOUBLE) AS mean_a, sb / CAST(n_b AS DOUBLE) AS mean_b,
    ((qa - sa * sa / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE))
      / CAST(n_a AS DOUBLE) AS ea,
    ((qb - sb * sb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE))
      / CAST(n_b AS DOUBLE) AS eb
  FROM m)
SELECT pair, n_a, n_b, mean_a, mean_b,
  CASE WHEN n_a < 2 OR n_b < 2 OR ea + eb <= 0.0 THEN NULL ELSE
    FLOOR((mean_a - mean_b) / SQRT(ea + eb) * 1000000 + 0.5) / 1000000
    END AS t,
  CASE WHEN n_a < 2 OR n_b < 2 OR ea + eb <= 0.0 THEN NULL ELSE
    FLOOR((ea + eb) * (ea + eb)
      / (ea * ea / CAST(n_a - 1 AS DOUBLE)
        + eb * eb / CAST(n_b - 1 AS DOUBLE)) * 1000000 + 0.5) / 1000000
    END AS df
FROM w ORDER BY pair"""))

  private val x131 = DeclaredQuery("x131_permutation_test",
    // Hash-randomization permutation test (TwoSample.permutationTest) on
    // the x127 signal face (de~fr mean n_chars difference), 64
    // pseudo-permutations by the x06d sha256 unit hash of id:perm:j —
    // fully replayable in DuckDB, so the ENTIRE null distribution sweep
    // is oracled: per-j pseudo-side sums are exact integers, the
    // exceedance comparison is identical-IEEE, and the add-one p is an
    // exact integer ratio. No rounding pin anywhere.
    (s, d) => graft.operators.TwoSample.permutationTest(
        t(s, d, "documents"), "doc_id", "lang", "n_chars", "de", "fr", 64)
      .select(col("n_a"), col("n_b"), col("obs_diff"),
        col("n_perms"), col("p_value")),
    Some("""WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, lang AS g,
    CAST(n_chars AS DOUBLE) AS v
  FROM documents WHERE lang IN ('de', 'fr')),
o AS (
  SELECT
    CAST(SUM(CASE WHEN g = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN g = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN g = 'de' THEN v ELSE 0.0 END) AS sa,
    SUM(CASE WHEN g = 'fr' THEN v ELSE 0.0 END) AS sb
  FROM f),
od AS (
  SELECT n_a, n_b,
    sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE) AS obs_diff
  FROM o),
sw AS (
  SELECT t.j, v,
    CASE WHEN CAST(('0x' || substring(
        sha256(id || ':perm:' || CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
        / 4294967296.0
      < CAST(od.n_a AS DOUBLE) / CAST(od.n_a + od.n_b AS DOUBLE)
    THEN 1 ELSE 0 END AS toa
  FROM f, range(64) t(j), od),
agg AS (
  SELECT j, SUM(toa) AS na,
    SUM(CASE WHEN toa = 1 THEN v ELSE 0.0 END) AS psa,
    SUM(1 - toa) AS nb,
    SUM(CASE WHEN toa = 0 THEN v ELSE 0.0 END) AS psb
  FROM sw GROUP BY j),
diffs AS (
  SELECT j, CASE WHEN na = 0 OR nb = 0 THEN NULL
    ELSE psa / CAST(na AS DOUBLE) - psb / CAST(nb AS DOUBLE) END AS dj
  FROM agg)
SELECT od.n_a, od.n_b, od.obs_diff,
  CAST(COUNT(*) AS BIGINT) AS n_perms,
  CAST(SUM(CASE WHEN dj IS NULL OR ABS(dj) >= ABS(od.obs_diff)
    THEN 1 ELSE 0 END) + 1 AS DOUBLE)
    / CAST(COUNT(*) + 1 AS DOUBLE) AS p_value
FROM diffs, od GROUP BY od.n_a, od.n_b, od.obs_diff"""))

  private val x132 = DeclaredQuery("x132_chi2_independence",
    // Pearson chi-squared independence + Cramér's V
    // (Contingency.chi2Independence) over two metadata facet pairs:
    // lang × source on documents (the mixture-skew screen) and
    // event_type × value band on events. Counts/margins exact integers;
    // zero cells enter via the no-spine identity χ² = n + Σ((o−e)²/e − e);
    // the final Σ over occupied cells is the one cross-engine fold
    // (contributions O(1..n) doubles, divergence ~1e-10) — round6 pins
    // chi2 and V.
    (s, d) => {
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def shape(name: String, df: DataFrame, a: String, b: String) =
        graft.operators.Contingency.chi2Independence(df, a, b)
          .select(lit(name).as("pair"), col("n"), col("r"), col("c"),
            col("dof"), r6(col("chi2")).as("chi2"),
            r6(col("cramers_v")).as("cramers_v"))
      val docs = t(s, d, "documents")
      val ev = t(s, d, "events")
        .withColumn("band",
          when(col("value") >= 50.0, "hi").otherwise("lo"))
      shape("docs:lang~source", docs, "lang", "source")
        .unionAll(shape("events:type~band", ev, "event_type", "band"))
        .orderBy("pair")
    },
    Some("""WITH side AS (
  SELECT 'docs:lang~source' AS pair, lang AS a, source AS b FROM documents
  UNION ALL
  SELECT 'events:type~band', event_type,
    CASE WHEN value >= 50.0 THEN 'hi' ELSE 'lo' END
  FROM events),
cells AS (SELECT pair, a, b, COUNT(*) AS o FROM side GROUP BY 1, 2, 3),
rm AS (SELECT pair, a, SUM(o) AS ra FROM cells GROUP BY 1, 2),
cm AS (SELECT pair, b, SUM(o) AS cb FROM cells GROUP BY 1, 2),
tt AS (
  SELECT pair, CAST(SUM(o) AS BIGINT) AS n,
    CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
    CAST(COUNT(DISTINCT b) AS BIGINT) AS c
  FROM cells GROUP BY 1),
e AS (
  SELECT cells.pair, tt.n, tt.r, tt.c,
    CAST(rm.ra AS DOUBLE) * CAST(cm.cb AS DOUBLE)
      / CAST(tt.n AS DOUBLE) AS ee,
    CAST(cells.o AS DOUBLE) AS od
  FROM cells
  JOIN rm ON cells.pair = rm.pair AND cells.a = rm.a
  JOIN cm ON cells.pair = cm.pair AND cells.b = cm.b
  JOIN tt ON cells.pair = tt.pair),
s AS (
  SELECT pair, n, r, c, (r - 1) * (c - 1) AS dof,
    CAST(n AS DOUBLE) + SUM((od - ee) * (od - ee) / ee - ee) AS chi2
  FROM e GROUP BY pair, n, r, c)
SELECT pair, n, r, c, dof,
  CASE WHEN dof = 0 THEN NULL
    ELSE FLOOR(chi2 * 1000000 + 0.5) / 1000000 END AS chi2,
  CASE WHEN dof = 0 THEN NULL
    ELSE FLOOR(SQRT(chi2 / (CAST(n AS DOUBLE)
      * CAST(LEAST(r, c) - 1 AS DOUBLE))) * 1000000 + 0.5) / 1000000
    END AS cramers_v
FROM s ORDER BY pair"""))

  private val x133 = DeclaredQuery("x133_mutual_information",
    // Mutual information + entropies + arithmetic-mean NMI
    // (Contingency.mutualInformation) over the same facet pairs as x132 —
    // the association-STRENGTH read next to chi2's significance read
    // (chi2 grows with n at fixed association; MI measures the
    // association). Every p is an exact-integer ratio; ln is libm (ulps
    // differ cross-engine) and the final Σ a cross-engine fold — round6
    // pins mi/h/nmi.
    (s, d) => {
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def shape(name: String, df: DataFrame, a: String, b: String) =
        graft.operators.Contingency.mutualInformation(df, a, b)
          .select(lit(name).as("pair"), col("n"), col("r"), col("c"),
            r6(col("h_a")).as("h_a"), r6(col("h_b")).as("h_b"),
            r6(col("mi")).as("mi"), r6(col("nmi")).as("nmi"))
      val docs = t(s, d, "documents")
      val ev = t(s, d, "events")
        .withColumn("band",
          when(col("value") >= 50.0, "hi").otherwise("lo"))
      shape("docs:lang~source", docs, "lang", "source")
        .unionAll(shape("events:type~band", ev, "event_type", "band"))
        .orderBy("pair")
    },
    Some("""WITH side AS (
  SELECT 'docs:lang~source' AS pair, lang AS a, source AS b FROM documents
  UNION ALL
  SELECT 'events:type~band', event_type,
    CASE WHEN value >= 50.0 THEN 'hi' ELSE 'lo' END
  FROM events),
cells AS (SELECT pair, a, b, COUNT(*) AS o FROM side GROUP BY 1, 2, 3),
rm AS (SELECT pair, a, SUM(o) AS ra FROM cells GROUP BY 1, 2),
cm AS (SELECT pair, b, SUM(o) AS cb FROM cells GROUP BY 1, 2),
tt AS (
  SELECT pair, CAST(SUM(o) AS BIGINT) AS n,
    CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
    CAST(COUNT(DISTINCT b) AS BIGINT) AS c
  FROM cells GROUP BY 1),
mi AS (
  SELECT cells.pair,
    SUM((CAST(cells.o AS DOUBLE) / CAST(tt.n AS DOUBLE))
      * LN(CAST(cells.o AS DOUBLE) * CAST(tt.n AS DOUBLE)
        / (CAST(rm.ra AS DOUBLE) * CAST(cm.cb AS DOUBLE)))) AS mi
  FROM cells
  JOIN rm ON cells.pair = rm.pair AND cells.a = rm.a
  JOIN cm ON cells.pair = cm.pair AND cells.b = cm.b
  JOIN tt ON cells.pair = tt.pair
  GROUP BY cells.pair),
ha AS (
  SELECT rm.pair,
    SUM((CAST(rm.ra AS DOUBLE) / CAST(tt.n AS DOUBLE))
      * LN(CAST(tt.n AS DOUBLE) / CAST(rm.ra AS DOUBLE))) AS h_a
  FROM rm JOIN tt ON rm.pair = tt.pair GROUP BY rm.pair),
hb AS (
  SELECT cm.pair,
    SUM((CAST(cm.cb AS DOUBLE) / CAST(tt.n AS DOUBLE))
      * LN(CAST(tt.n AS DOUBLE) / CAST(cm.cb AS DOUBLE))) AS h_b
  FROM cm JOIN tt ON cm.pair = tt.pair GROUP BY cm.pair)
SELECT tt.pair, tt.n, tt.r, tt.c,
  FLOOR(ha.h_a * 1000000 + 0.5) / 1000000 AS h_a,
  FLOOR(hb.h_b * 1000000 + 0.5) / 1000000 AS h_b,
  FLOOR(mi.mi * 1000000 + 0.5) / 1000000 AS mi,
  CASE WHEN tt.r = 1 OR tt.c = 1 THEN NULL
    ELSE FLOOR(mi.mi / ((ha.h_a + hb.h_b) / 2.0) * 1000000 + 0.5) / 1000000
    END AS nmi
FROM tt
JOIN mi ON tt.pair = mi.pair
JOIN ha ON tt.pair = ha.pair
JOIN hb ON tt.pair = hb.pair
ORDER BY tt.pair"""))

  private val x134 = DeclaredQuery("x134_zonemap_scan",
    // File-level zone-map data skipping (sources/ZoneMap): lay documents
    // out range-clustered on n_chars (8 files — the x18 discipline that
    // makes per-file ranges tight), build the per-file min/max stats
    // table in ONE scan, then answer a narrow range predicate by pruning
    // the FILE LIST before any scan starts. The entry REQUIREs that
    // pruning actually engaged (0 < files_read < files_total) — a plan
    // that silently scans everything is the bug this layer exists to
    // catch. Oracle is the plain filter: zone pruning is conservative, so
    // the pruned read + exact predicate must be row-identical to it.
    (s, d) => {
      val tmp = graft.sources.Scratch.dir("graft-x134")
        .toString
      t(s, d, "documents")
        .repartitionByRange(8, col("n_chars"), col("doc_id"))
        .write.mode("overwrite").parquet(tmp)
      val zm = graft.sources.ZoneMap.build(s, tmp, Seq("n_chars"))
      val (df, total, read) = graft.sources.ZoneMap.prunedScan(
        s, tmp, zm, "n_chars", 250L, 280L)
      require(read > 0 && read < total,
        s"zone pruning must engage: read $read of $total files")
      df.select("doc_id", "n_chars").orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chars FROM documents
WHERE n_chars BETWEEN 250 AND 280 ORDER BY doc_id"""))

  private val x135 = DeclaredQuery("x135_quantile_normalize",
    // Pooled quantile normalization (QuantileNormalize.toPooled) of
    // n_chars across sources — after it, every source's length
    // distribution IS the pooled one and a single global threshold means
    // the same thing in every source. normalized is a pooled DATA value
    // selected by exact integer rank arithmetic (DECIMAL(38,0) product,
    // integral div) — no rounding pin anywhere. The oracle replays the
    // mid-rank formula and the k-th-order-statistic probe (as a theta
    // join, affordable oracle-side at gate scale; the engine uses the
    // merge-pattern window instead — never quadratic).
    (s, d) => graft.operators.QuantileNormalize.toPooled(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          col("n_chars").cast("double").as("nc")),
        "source", "nc")
      .select(col("doc_id"), col("nc"), col("normalized"))
      .orderBy("doc_id"),
    Some("""WITH v AS (
  SELECT doc_id, source AS g, CAST(n_chars AS DOUBLE) AS nc
  FROM documents),
blocks AS (SELECT g, nc, COUNT(*) AS cnt FROM v GROUP BY g, nc),
ranked AS (
  SELECT g, nc, cnt,
    COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY nc
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
      + cnt + 1 AS r2,
    SUM(cnt) OVER (PARTITION BY g) AS ng
  FROM blocks),
pooled AS (
  SELECT nc AS pv, SUM(c) OVER (ORDER BY nc
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (SELECT nc, COUNT(*) AS c FROM v GROUP BY nc) z),
nn AS (SELECT COUNT(*) AS n FROM v),
q AS (
  SELECT g, nc,
    (CAST(r2 - 1 AS HUGEINT) * n + 2 * ng - 1)
      // (2 * CAST(ng AS HUGEINT)) AS k
  FROM ranked, nn),
map AS (
  SELECT q.g, q.nc, MIN(pooled.pv) AS normalized
  FROM q JOIN pooled ON pooled.cum >= q.k
  GROUP BY q.g, q.nc)
SELECT v.doc_id, v.nc, map.normalized
FROM v JOIN map ON v.g = map.g AND v.nc = map.nc
ORDER BY v.doc_id"""))

  private val x136 = DeclaredQuery("x136_kruskal_wallis",
    // Kruskal-Wallis H (TwoSample.kruskalWallis) — the k-sample screen
    // before k² pairwise tests, run over BOTH metadata facets at once:
    // n_chars across the 5 languages and across the sources. Rank sums
    // are exact halves (x125 machinery), the tie term exact BIGINT; the
    // per-group ΣR²/n fold and the final H arithmetic carry the IEEE ops
    // (round6 pin).
    (s, d) => {
      val docs = t(s, d, "documents")
      def face(name: String, gc: String) =
        graft.operators.TwoSample.kruskalWallis(
            docs.select(col(gc).as("g"), col("n_chars")), "g", "n_chars")
          .select(lit(name).as("pair"), col("k"), col("n"),
            (floor(col("h") * 1000000 + 0.5) / 1000000).as("h"))
      face("lang", "lang").unionAll(face("source", "source"))
        .orderBy("pair")
    },
    Some("""WITH face AS (
  SELECT 'lang' AS pair, lang AS g, CAST(n_chars AS DOUBLE) AS v
  FROM documents
  UNION ALL
  SELECT 'source', source, CAST(n_chars AS DOUBLE) FROM documents),
cells AS (SELECT pair, g, v, COUNT(*) AS c FROM face GROUP BY 1, 2, 3),
tv AS (SELECT pair, v, SUM(c) AS t FROM cells GROUP BY pair, v),
vals AS (
  SELECT pair, v,
    CAST(COALESCE(SUM(t) OVER (PARTITION BY pair ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      + CAST(t + 1 AS DOUBLE) / 2.0 AS rk
  FROM tv),
pg AS (
  SELECT cells.pair, cells.g, SUM(cells.c) AS ng,
    SUM(CAST(cells.c AS DOUBLE) * vals.rk) AS rg
  FROM cells JOIN vals ON cells.pair = vals.pair AND cells.v = vals.v
  GROUP BY cells.pair, cells.g),
tie AS (
  SELECT pair, CAST(SUM(t * t * t - t) AS DOUBLE) AS ties
  FROM tv GROUP BY pair),
agg AS (
  SELECT pg.pair, CAST(COUNT(DISTINCT pg.g) AS BIGINT) AS k,
    CAST(SUM(pg.ng) AS BIGINT) AS n,
    SUM(rg * rg / CAST(ng AS DOUBLE)) AS sr
  FROM pg GROUP BY pg.pair)
SELECT agg.pair, k, n,
  CASE WHEN 1.0 - ties / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) <= 0.0 THEN NULL
  ELSE FLOOR((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * sr
      - 3.0 * (CAST(n AS DOUBLE) + 1.0))
    / (1.0 - ties / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
    * 1000000 + 0.5) / 1000000 END AS h
FROM agg JOIN tie ON agg.pair = tie.pair ORDER BY agg.pair"""))

  private val x137 = DeclaredQuery("x137_mann_kendall",
    // Mann-Kendall trend + Theil-Sen slope (Trend.mannKendall) over the
    // x126 per-type daily count series — CUSUM localizes WHEN a series
    // left a level, this asks whether a monotone trend exists at all and
    // estimates its robust rate. The day axis derives from the data's own
    // min date (no hardcoded fixture year — the q53 lesson). S and the
    // variance terms are exact integers, each slope one IEEE division,
    // the median picked by integer position — z alone carries the sqrt
    // (round6).
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      val mn = daily.agg(min("day").as("__mn"))
      val series = daily.crossJoin(broadcast(mn))
        .withColumn("ord", datediff(col("day"), col("__mn")))
      graft.operators.Trend.mannKendall(series, "event_type", "ord", "cnt")
        .select(col("event_type"), col("n"), col("s"), col("var_s"),
          (floor(col("z") * 1000000 + 0.5) / 1000000).as("z"),
          col("sen_slope"))
        .orderBy("event_type")
    },
    Some("""WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY 1, 2),
mn AS (SELECT MIN(day) AS mnd FROM d),
e AS (SELECT event_type, CAST(day - mn.mnd AS DOUBLE) AS o, cnt
      FROM d, mn),
p AS (
  SELECT l.event_type, SIGN(r.cnt - l.cnt) AS sgn,
    (r.cnt - l.cnt) / (r.o - l.o) AS slope
  FROM e l JOIN e r ON l.event_type = r.event_type AND l.o < r.o),
med AS (
  SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s,
    AVG(CASE WHEN rn = (np + 1) // 2 OR rn = np // 2 + 1
      THEN slope END) AS sen_slope
  FROM (
    SELECT event_type, sgn, slope,
      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
      COUNT(*) OVER (PARTITION BY event_type) AS np
    FROM p) z
  GROUP BY event_type),
tt AS (
  SELECT event_type, SUM(t * (t - 1) * (t * 2 + 5)) AS tterm
  FROM (SELECT event_type, cnt, COUNT(*) AS t FROM e GROUP BY 1, 2) z
  GROUP BY event_type),
nk AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
       FROM e GROUP BY event_type),
j AS (
  SELECT nk.event_type, nk.n, med.s,
    CASE WHEN nk.n >= 2 THEN
      CAST(nk.n * (nk.n - 1) * (nk.n * 2 + 5) - tt.tterm AS DOUBLE) / 18.0
    END AS var_s,
    med.sen_slope
  FROM nk JOIN tt USING (event_type) LEFT JOIN med USING (event_type))
SELECT event_type, n, s, var_s,
  CASE WHEN var_s IS NULL OR var_s <= 0.0 THEN NULL
    WHEN s > 0 THEN FLOOR(CAST(s - 1 AS DOUBLE) / SQRT(var_s)
      * 1000000 + 0.5) / 1000000
    WHEN s < 0 THEN FLOOR(CAST(s + 1 AS DOUBLE) / SQRT(var_s)
      * 1000000 + 0.5) / 1000000
    ELSE 0.0 END AS z,
  sen_slope
FROM j ORDER BY event_type"""))

  private val x139 = DeclaredQuery("x139_benford",
    // Benford first-digit conformance (Forensics.benfordDigits) — the
    // "does this source's numeric metadata look organic?" forensics
    // screen, two deliberately contrasting faces: o_totalprice spans
    // scales (Benford-ish, low MAD) while n_chars is a narrow band
    // (wildly non-conforming — a finding about the column, which is the
    // point). Doubles floor to BIGINT with an explicit FLOOR in BOTH
    // engines (Spark's double→long cast truncates, DuckDB's ROUNDS —
    // first digits would silently differ at .5 boundaries); digit
    // extraction is the decimal rendering of a BIGINT, exact
    // cross-engine where log10-based extraction can flip at powers of
    // ten. Counts exact; log10 is the one libm op — round6.
    (s, d) => {
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def face(name: String, in: DataFrame) =
        graft.operators.Forensics.benfordDigits(in, "v")
          .select(lit(name).as("pair"), col("digit"), col("n_obs"),
            r6(col("prop")).as("prop"), r6(col("expected")).as("expected"),
            r6(col("dev")).as("dev"), r6(col("mad")).as("mad"))
      face("orders:o_totalprice",
          t(s, d, "orders")
            .select(floor(col("o_totalprice")).cast("long").as("v")))
        .unionAll(face("docs:n_chars",
          t(s, d, "documents").select(col("n_chars").as("v"))))
        .orderBy("pair", "digit")
    },
    Some("""WITH side AS (
  SELECT 'orders:o_totalprice' AS pair,
    CAST(FLOOR(o_totalprice) AS BIGINT) AS v FROM orders
  UNION ALL
  SELECT 'docs:n_chars', n_chars FROM documents),
c AS (
  SELECT pair, CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
    COUNT(*) AS n_obs
  FROM side GROUP BY 1, 2),
spine AS (
  SELECT p.pair, CAST(t.digit AS INT) AS digit
  FROM (SELECT DISTINCT pair FROM side) p, range(1, 10) t(digit)),
n AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS nn FROM side GROUP BY 1),
pd AS (
  SELECT spine.pair, spine.digit,
    COALESCE(c.n_obs, 0) AS n_obs,
    CAST(COALESCE(c.n_obs, 0) AS DOUBLE) / CAST(n.nn AS DOUBLE) AS prop,
    LOG10(1.0 + 1.0 / CAST(spine.digit AS DOUBLE)) AS expected
  FROM spine
  LEFT JOIN c ON spine.pair = c.pair AND spine.digit = c.digit
  JOIN n ON spine.pair = n.pair),
m AS (
  SELECT pair, SUM(ABS(prop - expected)) / 9.0 AS mad
  FROM pd GROUP BY pair)
SELECT pd.pair, pd.digit, pd.n_obs,
  FLOOR(prop * 1000000 + 0.5) / 1000000 AS prop,
  FLOOR(expected * 1000000 + 0.5) / 1000000 AS expected,
  FLOOR(ABS(prop - expected) * 1000000 + 0.5) / 1000000 AS dev,
  FLOOR(mad * 1000000 + 0.5) / 1000000 AS mad
FROM pd JOIN m ON pd.pair = m.pair
ORDER BY pd.pair, pd.digit"""))

  private val x140 = DeclaredQuery("x140_cuped",
    // CUPED-adjusted Welch t (Cuped.welchTAdjusted): token counts
    // compared between src0 and src1 with n_chars as the covariate —
    // chars explain most token-count variance (ρ² ≈ 0.9+), so the
    // adjusted read needs a fraction of the samples the raw read does.
    // Everything derives from ONE joint-moment pass (integer-exact sums;
    // materializing adjusted rows would make downstream sums
    // order-dependent cross-engine); the oracle replays the identical
    // moment algebra. round6 on the derived outputs.
    (s, d) => {
      val v = t(s, d, "documents")
        .select(col("source"),
          size(filter(split(col("text"), "\\s+"), t => length(t) > 0))
            .cast("double").as("y"),
          col("n_chars").cast("double").as("x"))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      graft.operators.Cuped.welchTAdjusted(
          v, "source", "y", "x", "src0", "src1")
        .select(col("n_a"), col("n_b"),
          r6(col("theta")).as("theta"), r6(col("rho2")).as("rho2"),
          r6(col("mean_adj_a")).as("mean_adj_a"),
          r6(col("mean_adj_b")).as("mean_adj_b"),
          r6(col("t_raw")).as("t_raw"), r6(col("t_adj")).as("t_adj"))
    },
    Some("""WITH v AS (
  SELECT source AS g,
    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
      t -> length(t) > 0)) AS DOUBLE) AS y,
    CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE source IN ('src0', 'src1')),
m AS (
  SELECT
    CAST(SUM(CASE WHEN g = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN g = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN g = 'src0' THEN y ELSE 0.0 END) AS sya,
    SUM(CASE WHEN g = 'src1' THEN y ELSE 0.0 END) AS syb,
    SUM(CASE WHEN g = 'src0' THEN x ELSE 0.0 END) AS sxa,
    SUM(CASE WHEN g = 'src1' THEN x ELSE 0.0 END) AS sxb,
    SUM(CASE WHEN g = 'src0' THEN y * y ELSE 0.0 END) AS syya,
    SUM(CASE WHEN g = 'src1' THEN y * y ELSE 0.0 END) AS syyb,
    SUM(CASE WHEN g = 'src0' THEN x * x ELSE 0.0 END) AS sxxa,
    SUM(CASE WHEN g = 'src1' THEN x * x ELSE 0.0 END) AS sxxb,
    SUM(CASE WHEN g = 'src0' THEN x * y ELSE 0.0 END) AS sxya,
    SUM(CASE WHEN g = 'src1' THEN x * y ELSE 0.0 END) AS sxyb
  FROM v),
pool AS (
  SELECT *,
    n_a + n_b AS nn, sxa + sxb AS sx, sya + syb AS sy,
    sxxa + sxxb AS sxx, syya + syyb AS syy, sxya + sxyb AS sxy
  FROM m),
der AS (
  SELECT *,
    sx / CAST(nn AS DOUBLE) AS xbar,
    (sxx - sx * sx / CAST(nn AS DOUBLE)) / CAST(nn - 1 AS DOUBLE) AS varx,
    (syy - sy * sy / CAST(nn AS DOUBLE)) / CAST(nn - 1 AS DOUBLE) AS vary,
    (sxy - sx * sy / CAST(nn AS DOUBLE)) / CAST(nn - 1 AS DOUBLE) AS covxy
  FROM pool),
th AS (
  SELECT *,
    CASE WHEN varx <= 0.0 THEN NULL ELSE covxy / varx END AS theta,
    CASE WHEN varx <= 0.0 OR vary <= 0.0 THEN NULL
      ELSE covxy * covxy / (varx * vary) END AS rho2
  FROM der),
grp AS (
  SELECT *,
    sya / CAST(n_a AS DOUBLE) AS mya, syb / CAST(n_b AS DOUBLE) AS myb,
    sxa / CAST(n_a AS DOUBLE) AS mxa, sxb / CAST(n_b AS DOUBLE) AS mxb,
    (syya - sya * sya / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
      AS vya,
    (syyb - syb * syb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)
      AS vyb,
    (sxxa - sxa * sxa / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
      AS vxa,
    (sxxb - sxb * sxb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)
      AS vxb,
    (sxya - sxa * sya / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
      AS cva,
    (sxyb - sxb * syb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)
      AS cvb
  FROM th),
adj AS (
  SELECT *,
    mya - theta * (mxa - xbar) AS maja,
    myb - theta * (mxb - xbar) AS majb,
    vya - 2.0 * theta * cva + theta * theta * vxa AS vaja,
    vyb - 2.0 * theta * cvb + theta * theta * vxb AS vajb
  FROM grp)
SELECT n_a, n_b,
  FLOOR(theta * 1000000 + 0.5) / 1000000 AS theta,
  FLOOR(rho2 * 1000000 + 0.5) / 1000000 AS rho2,
  FLOOR(maja * 1000000 + 0.5) / 1000000 AS mean_adj_a,
  FLOOR(majb * 1000000 + 0.5) / 1000000 AS mean_adj_b,
  CASE WHEN vya / CAST(n_a AS DOUBLE) + vyb / CAST(n_b AS DOUBLE) <= 0.0
    THEN NULL ELSE FLOOR((mya - myb)
      / SQRT(vya / CAST(n_a AS DOUBLE) + vyb / CAST(n_b AS DOUBLE))
      * 1000000 + 0.5) / 1000000 END AS t_raw,
  CASE WHEN vaja IS NULL OR vajb IS NULL
      OR vaja / CAST(n_a AS DOUBLE) + vajb / CAST(n_b AS DOUBLE) <= 0.0
    THEN NULL ELSE FLOOR((maja - majb)
      / SQRT(vaja / CAST(n_a AS DOUBLE) + vajb / CAST(n_b AS DOUBLE))
      * 1000000 + 0.5) / 1000000 END AS t_adj
FROM adj"""))

  private val x141 = DeclaredQuery("x141_effect_sizes",
    // Standardized effect sizes (TwoSample.effectSizes) on the x127
    // faces — the "HOW different" read that decides a mixture change at
    // corpus n, where everything is significant: Cliff's δ (the MWU U
    // rescaled to P(a>b) − P(a<b) — exact divisions, raw), Cohen's d and
    // Hedges' g (pooled-SD standardized mean gap + small-sample
    // correction — one sqrt, round6).
    (s, d) => {
      val docs = t(s, d, "documents")
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def face(name: String, gc: String, a: String, b: String) =
        graft.operators.TwoSample.effectSizes(docs, gc, "n_chars", a, b)
          .select(lit(name).as("pair"), col("n_a"), col("n_b"),
            col("cliffs_delta"), r6(col("cohens_d")).as("cohens_d"),
            r6(col("hedges_g")).as("hedges_g"))
      face("lang:de~fr", "lang", "de", "fr")
        .unionAll(face("source:src0~src1", "source", "src0", "src1"))
        .orderBy("pair")
    },
    Some("""WITH face AS (
  SELECT 'lang:de~fr' AS pair, lang AS g, 'de' AS ga, 'fr' AS gb,
    CAST(n_chars AS DOUBLE) AS v FROM documents WHERE lang IN ('de', 'fr')
  UNION ALL
  SELECT 'source:src0~src1', source, 'src0', 'src1',
    CAST(n_chars AS DOUBLE) FROM documents WHERE source IN ('src0', 'src1')),
c AS (
  SELECT pair, ga, gb, v,
    SUM(CASE WHEN g = ga THEN 1 ELSE 0 END) AS ca,
    SUM(CASE WHEN g = gb THEN 1 ELSE 0 END) AS cb
  FROM face GROUP BY pair, ga, gb, v),
r AS (
  SELECT *,
    CAST(COALESCE(SUM(ca + cb) OVER (PARTITION BY pair ORDER BY v
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      + CAST(ca + cb + 1 AS DOUBLE) / 2.0 AS rk
  FROM c),
m AS (
  SELECT pair,
    CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b,
    SUM(CAST(ca AS DOUBLE) * rk) AS ra,
    SUM(CAST(ca AS DOUBLE) * v) AS sa, SUM(CAST(cb AS DOUBLE) * v) AS sb,
    SUM(CAST(ca AS DOUBLE) * v * v) AS qa,
    SUM(CAST(cb AS DOUBLE) * v * v) AS qb
  FROM r GROUP BY pair),
u AS (
  SELECT *,
    ra - CAST(n_a AS DOUBLE) * CAST(n_a + 1 AS DOUBLE) / 2.0 AS ua,
    ((qa - sa * sa / CAST(n_a AS DOUBLE))
      + (qb - sb * sb / CAST(n_b AS DOUBLE)))
      / CAST(n_a + n_b - 2 AS DOUBLE) AS sp2
  FROM m)
SELECT pair, n_a, n_b,
  2.0 * ua / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0
    AS cliffs_delta,
  CASE WHEN sp2 <= 0.0 THEN NULL ELSE
    FLOOR((sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE))
      / SQRT(sp2) * 1000000 + 0.5) / 1000000 END AS cohens_d,
  CASE WHEN sp2 <= 0.0 THEN NULL ELSE
    FLOOR((sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE))
      / SQRT(sp2)
      * (1.0 - 3.0 / (CAST(n_a + n_b AS DOUBLE) * 4.0 - 9.0))
      * 1000000 + 0.5) / 1000000 END AS hedges_g
FROM u ORDER BY pair"""))

  private val x142 = DeclaredQuery("x142_two_proportion",
    // Two-proportion z (TwoSample.proportionZ) — the keep-rate read
    // after every filter change: success = the n_chars ≥ 300 screen,
    // compared src0~src1 (same generator — null face) and de~fr. Counts
    // exact from ONE conditional aggregate; p's exact divisions (raw);
    // z carries the one sqrt (round6).
    (s, d) => {
      val docs = t(s, d, "documents")
        .withColumn("kept", col("n_chars") >= 300)
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def face(name: String, gc: String, a: String, b: String) =
        graft.operators.TwoSample.proportionZ(docs, gc, "kept", a, b)
          .select(lit(name).as("pair"), col("n_a"), col("n_b"),
            col("k_a"), col("k_b"), col("p_a"), col("p_b"),
            r6(col("z")).as("z"))
      face("lang:de~fr", "lang", "de", "fr")
        .unionAll(face("source:src0~src1", "source", "src0", "src1"))
        .orderBy("pair")
    },
    Some("""WITH face AS (
  SELECT 'lang:de~fr' AS pair, lang AS g, 'de' AS ga, 'fr' AS gb,
    n_chars >= 300 AS kept FROM documents WHERE lang IN ('de', 'fr')
  UNION ALL
  SELECT 'source:src0~src1', source, 'src0', 'src1',
    n_chars >= 300 FROM documents WHERE source IN ('src0', 'src1')),
m AS (
  SELECT pair,
    CAST(SUM(CASE WHEN g = ga THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN g = gb THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(SUM(CASE WHEN g = ga AND kept THEN 1 ELSE 0 END) AS BIGINT)
      AS k_a,
    CAST(SUM(CASE WHEN g = gb AND kept THEN 1 ELSE 0 END) AS BIGINT)
      AS k_b
  FROM face GROUP BY pair),
p AS (
  SELECT *,
    CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
    CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
    CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS ph
  FROM m)
SELECT pair, n_a, n_b, k_a, k_b, p_a, p_b,
  CASE WHEN ph <= 0.0 OR ph >= 1.0 THEN NULL ELSE
    FLOOR((p_a - p_b) / SQRT(ph * (1.0 - ph)
      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
      * 1000000 + 0.5) / 1000000 END AS z
FROM p ORDER BY pair"""))

  private val x134b = DeclaredQuery("x134b_zonemap_incremental",
    // Incremental zone-map maintenance (ZoneMap.update — the daily-crawl
    // shape): lay out 4/5 of documents range-clustered, build + FREEZE
    // the map (eager localCheckpoint — a lazy map would silently re-list
    // the directory after the append and see nothing fresh), append the
    // held-out fifth as a new file, update by scanning ONLY that file,
    // and answer the x134 predicate THROUGH the merged map. REQUIREs the
    // update added exactly one stats row and that pruning still engages;
    // the oracle is the plain filter over ALL documents — a stale or
    // mis-merged map loses or duplicates rows.
    (s, d) => {
      val docs = t(s, d, "documents")
      val tmp = graft.sources.Scratch.dir("graft-x134b")
        .toString
      docs.where(col("doc_id") % 5 =!= 0)
        .repartitionByRange(6, col("n_chars"), col("doc_id"))
        .write.mode("overwrite").parquet(tmp)
      val zm0 = graft.sources.ZoneMap.build(s, tmp, Seq("n_chars"))
        .localCheckpoint(true)
      val n0 = zm0.count()
      docs.where(col("doc_id") % 5 === 0)
        .coalesce(1).write.mode("append").parquet(tmp)
      val zm1 = graft.sources.ZoneMap.update(s, tmp, zm0, Seq("n_chars"))
      require(zm1.count() == n0 + 1,
        "update must add exactly the appended file's stats row")
      val (df, total, read) = graft.sources.ZoneMap.prunedScan(
        s, tmp, zm1, "n_chars", 250L, 280L)
      require(read > 0 && read < total,
        s"zone pruning must engage through the merged map: $read/$total")
      df.select("doc_id", "n_chars").orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_chars FROM documents
WHERE n_chars BETWEEN 250 AND 280 ORDER BY doc_id"""))

  private val x143 = DeclaredQuery("x143_mde",
    // Minimum detectable effect (Power.minimumDetectableEffect) — the
    // question to ask BEFORE an A/B read: at these group sizes and this
    // variance, how small a shift could the comparison even detect?
    // Three standard designs over the purchase~view value metric
    // (FLOORed so the moment sums are exact integers in doubles — Spark
    // and DuckDB FLOOR agree where their double→long CASTs do not, the
    // x139 lesson). z quantiles are shared 17-digit literals (the normal
    // inverse CDF has no portable SQL spelling); round6 pins the one
    // sqrt fold.
    (s, d) => {
      val ev = t(s, d, "events").withColumn("fv", floor(col("value")))
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      graft.operators.Power.minimumDetectableEffect(
          ev, "event_type", "fv", "purchase", "view",
          Seq(0.05 -> 0.80, 0.01 -> 0.90, 0.10 -> 0.80))
        .select(col("alpha"), col("power"), col("n_a"), col("n_b"),
          r6(col("mde_abs")).as("mde_abs"), r6(col("mde_rel")).as("mde_rel"))
        .orderBy("alpha", "power")
    },
    Some("""WITH f AS (
  SELECT event_type AS g, FLOOR(value) AS v FROM events
  WHERE event_type IN ('purchase', 'view')),
m AS (
  SELECT
    CAST(SUM(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_a,
    CAST(SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    SUM(CASE WHEN g = 'purchase' THEN v ELSE 0.0 END) AS sa,
    SUM(CASE WHEN g = 'view' THEN v ELSE 0.0 END) AS sb,
    SUM(CASE WHEN g = 'purchase' THEN v * v ELSE 0.0 END) AS qa,
    SUM(CASE WHEN g = 'view' THEN v * v ELSE 0.0 END) AS qb
  FROM f),
plans AS (
  SELECT CAST(alpha AS DOUBLE) AS alpha, CAST(power AS DOUBLE) AS power,
    zsum
  FROM (VALUES
    (0.05, 0.80, 1.959963984540054 + 0.8416212335729143),
    (0.01, 0.90, 2.5758293035489004 + 1.2815515655446004),
    (0.10, 0.80, 1.6448536269514722 + 0.8416212335729143))
    t(alpha, power, zsum)),
se AS (
  SELECT plans.*, m.n_a, m.n_b, m.sa,
    ((qa - sa * sa / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
      / CAST(n_a AS DOUBLE))
    + ((qb - sb * sb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)
      / CAST(n_b AS DOUBLE)) AS se2
  FROM plans, m)
SELECT alpha, power, n_a, n_b,
  FLOOR(zsum * SQRT(se2) * 1000000 + 0.5) / 1000000 AS mde_abs,
  FLOOR(zsum * SQRT(se2) / (sa / CAST(n_a AS DOUBLE))
    * 1000000 + 0.5) / 1000000 AS mde_rel
FROM se ORDER BY alpha, power"""))

  private val x144 = DeclaredQuery("x144_chi2_uniformity",
    // Chi-squared goodness of fit vs uniform (Contingency.chi2Uniformity
    // — the 1-sample complement of x132's independence test): the
    // label-balance / shard-balance screen, two faces — day-of-week of
    // events (a 30-day window covers weekdays unequally, chi2 reflects
    // the calendar) and event_type (balanced by construction, chi2
    // small). Day-of-week spelled dayofweek(ts) in Spark (1–7, Sun=1)
    // and dayofweek(ts)+1 in DuckDB (0–6, Sun=0) — same values. Counts
    // exact; one fold over k cells (round6).
    (s, d) => {
      val ev = t(s, d, "events")
      def r6(c: org.apache.spark.sql.Column) =
        floor(c * 1000000 + 0.5) / 1000000
      def shape(name: String, in: DataFrame, c: String) =
        graft.operators.Contingency.chi2Uniformity(in.select(col(c)), c)
          .select(lit(name).as("pair"), col("n"), col("k"), col("dof"),
            r6(col("chi2")).as("chi2"))
      shape("events:dow", ev.withColumn("dow", dayofweek(col("ts"))),
          "dow")
        .unionAll(shape("events:type", ev, "event_type"))
        .orderBy("pair")
    },
    Some("""WITH side AS (
  SELECT 'events:dow' AS pair, CAST(dayofweek(ts) + 1 AS VARCHAR) AS f
  FROM events
  UNION ALL
  SELECT 'events:type', event_type FROM events),
cells AS (SELECT pair, f, COUNT(*) AS o FROM side GROUP BY 1, 2),
tot AS (
  SELECT pair, CAST(SUM(o) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k
  FROM cells GROUP BY 1),
s AS (
  SELECT cells.pair, tot.n, tot.k,
    SUM((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / CAST(k AS DOUBLE))
      * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / CAST(k AS DOUBLE))
      / (CAST(n AS DOUBLE) / CAST(k AS DOUBLE))) AS chi2
  FROM cells JOIN tot ON cells.pair = tot.pair
  GROUP BY cells.pair, tot.n, tot.k)
SELECT pair, n, k, k - 1 AS dof,
  CASE WHEN k = 1 THEN NULL
    ELSE FLOOR(chi2 * 1000000 + 0.5) / 1000000 END AS chi2
FROM s ORDER BY pair"""))

  private val x145 = DeclaredQuery("x145_autocorrelation",
    // Lag-k autocorrelation (Trend.autocorrelation) of the per-type
    // daily count series at lags 1, 2, 7 — the periodicity read that
    // keeps a weekly rhythm from paging as drift (x126) or trend (x137).
    // One window shuffle serves all three LAG columns; the cross-term
    // expands to exact integer sums and the estimator is a fixed IEEE
    // expression (round6 over the final folds).
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      val mn = daily.agg(min("day").as("__mn"))
      val series = daily.crossJoin(broadcast(mn))
        .withColumn("ord", datediff(col("day"), col("__mn")))
      graft.operators.Trend.autocorrelation(
          series, "event_type", "ord", "cnt", Seq(1, 2, 7))
        .select(col("event_type"), col("lag"), col("n"),
          (floor(col("acf") * 1000000 + 0.5) / 1000000).as("acf"))
        .orderBy("event_type", "lag")
    },
    Some("""WITH d AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM events GROUP BY 1, 2),
mn AS (SELECT MIN(day) AS mnd FROM d),
e AS (SELECT event_type, CAST(day - mn.mnd AS BIGINT) AS o, cnt
      FROM d, mn),
l AS (
  SELECT event_type, cnt,
    LAG(cnt, 1) OVER w AS l1, LAG(cnt, 2) OVER w AS l2,
    LAG(cnt, 7) OVER w AS l7
  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY o)),
m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
    SUM(cnt) AS s, SUM(cnt * cnt) AS q,
    SUM(cnt * l1) AS sxy1,
    SUM(CASE WHEN l1 IS NOT NULL THEN cnt ELSE 0.0 END) AS sh1,
    SUM(COALESCE(l1, 0.0)) AS st1,
    CAST(SUM(CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS m1,
    SUM(cnt * l2) AS sxy2,
    SUM(CASE WHEN l2 IS NOT NULL THEN cnt ELSE 0.0 END) AS sh2,
    SUM(COALESCE(l2, 0.0)) AS st2,
    CAST(SUM(CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS m2,
    SUM(cnt * l7) AS sxy7,
    SUM(CASE WHEN l7 IS NOT NULL THEN cnt ELSE 0.0 END) AS sh7,
    SUM(COALESCE(l7, 0.0)) AS st7,
    CAST(SUM(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS m7
  FROM l GROUP BY event_type),
acf AS (
  SELECT event_type, 1 AS lag, n,
    CASE WHEN m1 = 0 OR q - s * s / CAST(n AS DOUBLE) <= 0.0 THEN NULL
      ELSE (sxy1 - (s / CAST(n AS DOUBLE)) * (sh1 + st1)
        + CAST(m1 AS DOUBLE) * (s / CAST(n AS DOUBLE))
          * (s / CAST(n AS DOUBLE)))
        / (q - s * s / CAST(n AS DOUBLE)) END AS a
  FROM m
  UNION ALL
  SELECT event_type, 2, n,
    CASE WHEN m2 = 0 OR q - s * s / CAST(n AS DOUBLE) <= 0.0 THEN NULL
      ELSE (sxy2 - (s / CAST(n AS DOUBLE)) * (sh2 + st2)
        + CAST(m2 AS DOUBLE) * (s / CAST(n AS DOUBLE))
          * (s / CAST(n AS DOUBLE)))
        / (q - s * s / CAST(n AS DOUBLE)) END
  FROM m
  UNION ALL
  SELECT event_type, 7, n,
    CASE WHEN m7 = 0 OR q - s * s / CAST(n AS DOUBLE) <= 0.0 THEN NULL
      ELSE (sxy7 - (s / CAST(n AS DOUBLE)) * (sh7 + st7)
        + CAST(m7 AS DOUBLE) * (s / CAST(n AS DOUBLE))
          * (s / CAST(n AS DOUBLE)))
        / (q - s * s / CAST(n AS DOUBLE)) END
  FROM m)
SELECT event_type, lag, n,
  FLOOR(a * 1000000 + 0.5) / 1000000 AS acf
FROM acf ORDER BY event_type, lag"""))

  private val x147 = DeclaredQuery("x147_sequential_mixture_test",
    // Always-valid sequential mean test (Sequential.alwaysValidMeanTest —
    // mixture SPRT, Robbins 1970 / Johari et al. KDD'17): the A/B read
    // that stays valid under CONTINUOUS monitoring — x130's Welch t is a
    // one-look test, but a pipeline peeks every ingest day, and the
    // mSPRT p-process is a running minimum that is simultaneously valid
    // at every look. One per-day conditional aggregate collapses the
    // corpus to a looks-bounded frame; cumulative moments via one window
    // over the DAY axis (the x126 collapse); Λ reported as ln Λ (the
    // ratio itself overflows at corpus effect sizes). Moment sums exact
    // for this integral-valued metric; ln/exp/sqrt are the only libm ops
    // — round6 pins all three reported statistics (x39 precedent).
    (s, d) => {
      val ev = t(s, d, "events")
      val mn = ev.agg(min(to_date(col("ts"))).as("__mn"))
      val base = ev.crossJoin(broadcast(mn))
        .select(col("event_type"), col("value"),
          datediff(to_date(col("ts")), col("__mn")).cast("long").as("ord"))
      graft.operators.Sequential.alwaysValidMeanTest(
          base, "event_type", "value", "ord", "view", "click", tau2 = 25.0)
        .select(col("ord"), col("n_a"), col("n_b"),
          (floor(col("diff") * 1000000 + 0.5) / 1000000).as("diff"),
          (floor(col("log_lambda") * 1000000 + 0.5) / 1000000)
            .as("log_lambda"),
          (floor(col("p_value") * 1000000 + 0.5) / 1000000).as("p_value"))
        .orderBy("ord")
    },
    Some("""WITH f AS (
  SELECT CAST(ts AS DATE) AS day, event_type AS g, CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type IN ('view', 'click')),
mn AS (SELECT MIN(CAST(ts AS DATE)) AS mnd FROM events),
pl AS (
  SELECT CAST(day - mn.mnd AS BIGINT) AS ord,
    SUM(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS da,
    SUM(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS db,
    SUM(CASE WHEN g = 'view' THEN v ELSE 0.0 END) AS dsa,
    SUM(CASE WHEN g = 'click' THEN v ELSE 0.0 END) AS dsb,
    SUM(CASE WHEN g = 'view' THEN v * v ELSE 0.0 END) AS dqa,
    SUM(CASE WHEN g = 'click' THEN v * v ELSE 0.0 END) AS dqb
  FROM f, mn GROUP BY 1),
c AS (
  SELECT ord,
    CAST(SUM(da) OVER w AS BIGINT) AS n_a,
    CAST(SUM(db) OVER w AS BIGINT) AS n_b,
    SUM(dsa) OVER w AS sa, SUM(dsb) OVER w AS sb,
    SUM(dqa) OVER w AS qa, SUM(dqb) OVER w AS qb
  FROM pl
  WINDOW w AS (ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (
  SELECT ord, n_a, n_b,
    CASE WHEN n_a >= 1 AND n_b >= 1 THEN
      sa / CAST(n_a AS DOUBLE) - sb / CAST(n_b AS DOUBLE) END AS diff,
    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
      (qa - sa * sa / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
        / CAST(n_a AS DOUBLE)
      + (qb - sb * sb / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)
        / CAST(n_b AS DOUBLE) END AS vn
  FROM c),
l AS (
  SELECT ord, n_a, n_b, diff,
    CASE WHEN vn IS NULL OR vn <= 0.0 THEN NULL
      ELSE 0.5 * LN(vn / (vn + 25.0))
        + diff * diff * 25.0 / (2.0 * vn * (vn + 25.0)) END AS ll
  FROM s),
m AS (
  SELECT *, MAX(ll) OVER (ORDER BY ord
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mll
  FROM l)
SELECT ord, n_a, n_b,
  FLOOR(diff * 1000000 + 0.5) / 1000000 AS diff,
  FLOOR(ll * 1000000 + 0.5) / 1000000 AS log_lambda,
  FLOOR(CASE WHEN mll IS NULL THEN NULL
    ELSE LEAST(1.0, EXP(-mll)) END * 1000000 + 0.5) / 1000000 AS p_value
FROM m ORDER BY ord"""))

  private val x148 = DeclaredQuery("x148_poisson_bootstrap_ci",
    // Poisson-bootstrap percentile CI (Bootstrap.poissonBootstrapCI —
    // Efron's bootstrap made single-pass): per-source mean n_chars with
    // a 95% interval from 200 hash-deterministic Poisson(1) replicates.
    // The ENTIRE resampling universe is oracled: weights are the x06d
    // sha256 unit hash inverted through the shared Poisson CDF literals,
    // replicate means are exact-integer ratios, and the percentile pick
    // is QUANTILE_CONT's own (1−d)·lo + d·hi interpolation (the x36c
    // bit-parity) — round6 pins the reported doubles.
    (s, d) => graft.operators.Bootstrap.poissonBootstrapCI(
        t(s, d, "documents"), "doc_id", "source", "n_chars",
        replicates = 200, alpha = 0.05)
      .select(col("source"), col("n"),
        (floor(col("mean") * 1000000 + 0.5) / 1000000).as("mean"),
        (floor(col("ci_lo") * 1000000 + 0.5) / 1000000).as("ci_lo"),
        (floor(col("ci_hi") * 1000000 + 0.5) / 1000000).as("ci_hi"),
        col("n_replicates"))
      .orderBy("source"),
    Some("""WITH f AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, source AS g,
    CAST(n_chars AS DOUBLE) AS v
  FROM documents),
p AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) / COUNT(*) AS mean
      FROM f GROUP BY g),
u AS (
  SELECT g, t.j, v,
    CAST(('0x' || substring(
      sha256(id || ':boot:' || CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 AS uu
  FROM f, range(200) t(j)),
ww AS (
  SELECT g, j, v,
    CASE WHEN uu >= 0.36787944117144233 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.7357588823428847 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9196986029286058 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9810118431238462 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9963401531726563 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9994058151824183 THEN 1 ELSE 0 END AS w
  FROM u),
m AS (
  SELECT g, j,
    CASE WHEN SUM(w) > 0 THEN SUM(w * v) / SUM(w) END AS m
  FROM ww GROUP BY g, j),
ci AS (
  SELECT g, QUANTILE_CONT(m, 0.025) AS ci_lo, QUANTILE_CONT(m, 0.975) AS ci_hi
  FROM m WHERE m IS NOT NULL GROUP BY g)
SELECT p.g AS source, p.n,
  FLOOR(p.mean * 1000000 + 0.5) / 1000000 AS mean,
  FLOOR(ci.ci_lo * 1000000 + 0.5) / 1000000 AS ci_lo,
  FLOOR(ci.ci_hi * 1000000 + 0.5) / 1000000 AS ci_hi,
  CAST(200 AS INT) AS n_replicates
FROM p JOIN ci ON p.g = ci.g ORDER BY source"""))

  private val x148b = DeclaredQuery("x148b_cluster_bootstrap_ci",
    // The CLUSTER face of the Poisson bootstrap
    // (Bootstrap.clusterPoissonBootstrapCI — Owen & Eckles 2012): per
    // event_type mean value with the USER-level resample — rows within a
    // user are correlated, so the row-level bootstrap understates the
    // variance; here every row of a user draws ONE multiplicity per
    // replicate (hash keys on user_id, not the row), and a user's whole
    // event history enters or leaves a replicate together. Replicate
    // means are double folds over a non-integral metric — the 6-decimal
    // pin absorbs the cross-engine fold divergence (the x57/x69 GD-loss
    // precedent: ~1e-13 relative, 7+ orders from the rounding boundary).
    (s, d) => graft.operators.Bootstrap.clusterPoissonBootstrapCI(
        t(s, d, "events").select("user_id", "event_type", "value"),
        "user_id", "event_type", "value", replicates = 200, alpha = 0.05)
      .select(col("event_type"), col("n"),
        (floor(col("mean") * 1000000 + 0.5) / 1000000).as("mean"),
        (floor(col("ci_lo") * 1000000 + 0.5) / 1000000).as("ci_lo"),
        (floor(col("ci_hi") * 1000000 + 0.5) / 1000000).as("ci_hi"),
        col("n_replicates"))
      .orderBy("event_type"),
    Some("""WITH f AS (
  SELECT CAST(user_id AS VARCHAR) AS id, event_type AS g,
    CAST(value AS DOUBLE) AS v
  FROM events),
p AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(v) / COUNT(*) AS mean
      FROM f GROUP BY g),
u AS (
  SELECT g, t.j, v,
    CAST(('0x' || substring(
      sha256(id || ':boot:' || CAST(t.j AS VARCHAR)), 1, 8)) AS BIGINT)
      / 4294967296.0 AS uu
  FROM f, range(200) t(j)),
ww AS (
  SELECT g, j, v,
    CASE WHEN uu >= 0.36787944117144233 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.7357588823428847 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9196986029286058 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9810118431238462 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9963401531726563 THEN 1 ELSE 0 END
    + CASE WHEN uu >= 0.9994058151824183 THEN 1 ELSE 0 END AS w
  FROM u),
m AS (
  SELECT g, j,
    CASE WHEN SUM(w) > 0 THEN SUM(w * v) / SUM(w) END AS m
  FROM ww GROUP BY g, j),
ci AS (
  SELECT g, QUANTILE_CONT(m, 0.025) AS ci_lo, QUANTILE_CONT(m, 0.975) AS ci_hi
  FROM m WHERE m IS NOT NULL GROUP BY g)
SELECT p.g AS event_type, p.n,
  FLOOR(p.mean * 1000000 + 0.5) / 1000000 AS mean,
  FLOOR(ci.ci_lo * 1000000 + 0.5) / 1000000 AS ci_lo,
  FLOOR(ci.ci_hi * 1000000 + 0.5) / 1000000 AS ci_hi,
  CAST(200 AS INT) AS n_replicates
FROM p JOIN ci ON p.g = ci.g ORDER BY event_type"""))

  private val x149 = DeclaredQuery("x149_diff_in_diff",
    // Difference-in-differences (Did.differenceInDifferences — Card &
    // Krueger's design): the natural-experiment read for changes that
    // can't be randomized — a crawl policy flipped for one source at
    // date T. Treated = view events, control = click events, post = the
    // fixture-derived second half of the date range (midpoint from
    // min/max, the q53 lesson); DiD differences out both the stable
    // view~click gap and the common time trend. ONE conditional-moments
    // pass (12 sums, map-side partials); means and differences are fixed
    // IEEE expressions over exact-ish sums, se carries the one sqrt —
    // round6 pins the five derived columns.
    (s, d) => {
      val ev = t(s, d, "events")
        .where(col("event_type").isin("view", "click"))
      val bounds = ev.agg(min(to_date(col("ts"))).as("__lo"),
        max(to_date(col("ts"))).as("__hi"))
      val base = ev.crossJoin(broadcast(bounds))
        .select((col("event_type") === "view").as("treated"),
          (datediff(to_date(col("ts")), col("__lo"))
            >= expr("datediff(__hi, __lo) div 2")).as("post"),
          col("value"))
      graft.operators.Did
        .differenceInDifferences(base, "treated", "post", "value")
        .select(col("n_tpre"), col("n_tpost"), col("n_cpre"),
          col("n_cpost"),
          (floor(col("diff_treat") * 1000000 + 0.5) / 1000000)
            .as("diff_treat"),
          (floor(col("diff_control") * 1000000 + 0.5) / 1000000)
            .as("diff_control"),
          (floor(col("did") * 1000000 + 0.5) / 1000000).as("did"),
          (floor(col("se") * 1000000 + 0.5) / 1000000).as("se"),
          (floor(col("t") * 1000000 + 0.5) / 1000000).as("t"))
    },
    Some("""WITH f AS (
  SELECT event_type = 'view' AS tr, CAST(ts AS DATE) AS day,
    CAST(value AS DOUBLE) AS v
  FROM events WHERE event_type IN ('view', 'click')),
b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM f),
g AS (SELECT tr, (day - b.lo) >= (b.hi - b.lo) // 2 AS po, v FROM f, b),
m AS (
  SELECT
    CAST(SUM(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_tpre,
    CAST(SUM(CASE WHEN tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_tpost,
    CAST(SUM(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END) AS BIGINT) AS n_cpre,
    CAST(SUM(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END) AS BIGINT) AS n_cpost,
    SUM(CASE WHEN tr AND NOT po THEN v ELSE 0.0 END) AS s_tpre,
    SUM(CASE WHEN tr AND po THEN v ELSE 0.0 END) AS s_tpost,
    SUM(CASE WHEN NOT tr AND NOT po THEN v ELSE 0.0 END) AS s_cpre,
    SUM(CASE WHEN NOT tr AND po THEN v ELSE 0.0 END) AS s_cpost,
    SUM(CASE WHEN tr AND NOT po THEN v * v ELSE 0.0 END) AS q_tpre,
    SUM(CASE WHEN tr AND po THEN v * v ELSE 0.0 END) AS q_tpost,
    SUM(CASE WHEN NOT tr AND NOT po THEN v * v ELSE 0.0 END) AS q_cpre,
    SUM(CASE WHEN NOT tr AND po THEN v * v ELSE 0.0 END) AS q_cpost
  FROM g),
dd AS (
  SELECT *,
    s_tpost / n_tpost - s_tpre / n_tpre AS diff_treat,
    s_cpost / n_cpost - s_cpre / n_cpre AS diff_control,
    (q_tpre - s_tpre * s_tpre / n_tpre) / (n_tpre - 1) / n_tpre
      + (q_tpost - s_tpost * s_tpost / n_tpost) / (n_tpost - 1) / n_tpost
      + (q_cpre - s_cpre * s_cpre / n_cpre) / (n_cpre - 1) / n_cpre
      + (q_cpost - s_cpost * s_cpost / n_cpost) / (n_cpost - 1) / n_cpost
      AS se2
  FROM m)
SELECT n_tpre, n_tpost, n_cpre, n_cpost,
  FLOOR(diff_treat * 1000000 + 0.5) / 1000000 AS diff_treat,
  FLOOR(diff_control * 1000000 + 0.5) / 1000000 AS diff_control,
  FLOOR((diff_treat - diff_control) * 1000000 + 0.5) / 1000000 AS did,
  FLOOR(CASE WHEN se2 <= 0.0 THEN NULL ELSE SQRT(se2) END
    * 1000000 + 0.5) / 1000000 AS se,
  FLOOR(CASE WHEN se2 <= 0.0 THEN NULL
    ELSE (diff_treat - diff_control) / SQRT(se2) END
    * 1000000 + 0.5) / 1000000 AS t
FROM dd"""))

  private val x150 = DeclaredQuery("x150_hill_tail_index",
    // Hill tail-index (Relevance.hillTailIndex — Hill 1975): the
    // heavy-tail screen next to x46's Zipf fit — α ≲ 2 means infinite
    // variance (one giant document dominates any mean-based budget), α
    // large means a bounded tail. Two deliberately contrasting faces:
    // o_totalprice spans scales while n_chars is a narrow band — a
    // finding about the column, which is the point (the x139 pattern).
    // Top-(k+1) order statistics plan as TakeOrderedAndProject
    // (per-partition heaps, never a global sort); the estimate is one
    // aggregate over k+1 rows; the (k+1)-term ln fold rides round6.
    (s, d) => {
      def face(df: DataFrame, colName: String): DataFrame =
        graft.operators.Relevance.hillTailIndex(df, colName, k = 100)
          .select(lit(colName).as("metric"), col("k"), col("threshold"),
            (floor(col("hill") * 1000000 + 0.5) / 1000000).as("hill"),
            (floor(col("alpha") * 1000000 + 0.5) / 1000000).as("alpha"))
      face(t(s, d, "orders").select("o_totalprice"), "o_totalprice")
        .unionByName(
          face(t(s, d, "documents").select("n_chars"), "n_chars"))
        .orderBy("metric")
    },
    Some("""WITH t1 AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
  ORDER BY v DESC LIMIT 101),
h1 AS (
  SELECT 'o_totalprice' AS metric, CAST(100 AS INT) AS k,
    MIN(v) AS threshold,
    SUM(LN(v / (SELECT MIN(v) FROM t1))) / 100.0 AS hill
  FROM t1),
t2 AS (
  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
  ORDER BY v DESC LIMIT 101),
h2 AS (
  SELECT 'n_chars' AS metric, CAST(100 AS INT) AS k, MIN(v) AS threshold,
    SUM(LN(v / (SELECT MIN(v) FROM t2))) / 100.0 AS hill
  FROM t2),
u AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
SELECT metric, k, threshold,
  FLOOR(hill * 1000000 + 0.5) / 1000000 AS hill,
  CASE WHEN hill <= 0.0 THEN NULL
    ELSE FLOOR(1.0 / hill * 1000000 + 0.5) / 1000000 END AS alpha
FROM u ORDER BY metric"""))

  // ---------------------------------------------------------------- registry

  val all: Seq[DeclaredQuery] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08,
    q09, q10, q11, q12, q12b, q13, q14, q15, q16,
    q17, q18, q19, q20, q21, q22, q23, q24, q24a, q24b, q24c, q24d, q24e,
    q25, q26, q26b, q27, q28, q29, q30, q30a, q31, q32,
    q19b, q25b, q27b, q31b, q33, q34, q35, q36, q37, q38, q39, q40, q41,
    q42, q43, q44, q45, q46, q47, q48, q49, q50, q51, q52, q53, q54,
    q55, q56, q57, q58, q59, q60, q61,
    q32b, q32c,
    x1, x1b, x2, x2b, x2c, x2d, x2e, x3, x3b, x3c, x3cs, x3ci, x3d, x4, x4b, x4c, x4d, x4e, x4f, x4g,
    x5, x5b, x5c, x5d, x6, x6b, x6c, x7, x7b, x7c, x7d, x7e, x7f, x8, x8b, x9, x10, x10b, x11, x12, x12b,
    x13, x13b, x14, x14b, x14c, x15, x6d, x16, x16b, x16c, x17, x17b, x18, x19, x10c,
    x20, x20b, x20c, x20d, x20e, x21, x22, x22b, x23, x23b, x23c, x24, x25, x26, x27, x27b, x28, x29, x29b, x29c, x30, x31, x31c, x32, x32b, x33, x34, x35, x35b, x36, x36b, x36c, x36d, x36e, x36f, x36g, x36h, x37, x38, x38b, x39, x39b, x40, x41, x42, x42b, x42c, x43, x44, x45, x46, x47, x48, x49, x50, x51, x51b, x52, x53, x54, x55, x56, x57, x58, x58b, x59, x59b, x60, x61,
    x62, x63, x64, x65, x66, x67, x69, x70, x71, x72, x72b, x73, x74,
    x75, x76, x77, x81, x82, x83, x84, x85, x87, x88,
    x89, x90, x91, x93, x94, x95, x96, x97, x98, x99, x100,
    x102, x103, x104, x105, x106, x107, x108, x109, x110, x111,
    x113, x114, x115, x115b, x117, x118, x119, x120, x121, x122,
    x123, x124, x125, x126, x127, x128, x129, x130, x131, x132, x133,
    x134, x134b, x135, x136, x137, x139, x140, x141, x142, x143,
    x144, x145, x147, x148, x148b, x149, x150, x10d, x10e, x10f) ++
    graft.queries.StreamingQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
