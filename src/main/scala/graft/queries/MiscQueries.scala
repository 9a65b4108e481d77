package graft.queries

import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}

/** Small-operator catalog — the projection/filter/function gaps from
  * SURVEY.md §2.2/§2.4/§2.8 that each take one short query to prove:
  * where(SQL string) P5, between P6, try_cast P11, collect_set A7,
  * from_json→Map, inline_outer.
  */
object MiscQueries {

  val queries: Map[String, Q] = Map(
    // P5+P6 SQL-string where + Column.between
    // (ref: usage_analysis.py:101 where-string; hive_to_hive_cte.py:117).
    "p5_where_between" -> { (s, dir) =>
      Tables.orders(s, dir)
        .where("o_orderstatus = 'F' AND o_orderpriority LIKE '%URGENT%'")
        .filter(col("o_totalprice").between(50000.0, 200000.0))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    },

    // P11 try_cast: lenient numeric parse, null on failure
    // (ref: servicenow_api_extract.py:190-211 defensive casts).
    "p11_try_cast" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(
          expr("try_cast(split(o_orderpriority, '-')[0] AS int)").as("prio_num"),
          expr("try_cast(o_orderstatus AS int)").as("status_num"))
        .groupBy(col("prio_num"))
        .agg(count(lit(1)).as("n"), count(col("status_num")).as("n_status_parsed"))
        .orderBy(col("prio_num"))
    },

    // P11 extension (r17): try_cast on TEMPORAL targets — the
    // reference's lenient-ingest pattern try_casts date fields too
    // (ref: servicenow_api_extract.py:190-211). Exercises both the
    // always-parsing and always-failing paths. Unlike p11's integrals,
    // these deliberately run UNREWRITTEN: Spark 4.1's temporal TRY cast
    // pays no per-failing-row exception (rule on/off A/B: 1.1× vs int's
    // 16.1×, OPTIMIZATION_r17.md §4), so TryCastNoThrowRule leaves
    // temporal targets alone.
    "p12_try_cast_date" -> { (s, dir) =>
      Tables.orders(s, dir)
        .select(
          expr("try_cast(cast(cast(o_orderdate AS date) AS string) AS date)")
            .as("d_ok"),
          expr("try_cast(o_orderpriority AS date)").as("d_bad"),
          expr("try_cast(concat(cast(cast(o_orderdate AS date) AS string), " +
            "' 12:34:56') AS timestamp)").as("ts_ok"))
        .groupBy(year(col("d_ok")).as("yr"))
        .agg(count(lit(1)).as("n"), count(col("d_ok")).as("n_date"),
          count(col("d_bad")).as("n_bad"),
          min(col("d_ok")).as("min_d"), max(col("d_ok")).as("max_d"),
          count(col("ts_ok")).as("n_ts"),
          max(col("ts_ok").cast("string")).as("max_ts"))
        .orderBy(col("yr"))
    },

    // A7 collect_set, sorted + joined for cross-engine determinism
    // (ref: pbi_airport_rls_example.py:95).
    "a7_collect_set" -> { (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
               .as("priorities"),
             count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"))
    },

    // from_json → typed Map access (ref: usage_analysis.py:75
    // from_json(props) → MapType → element_at).
    "f_from_json_map" -> { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
        .withColumn("k_val", element_at(col("m"), "k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k_val")).as("k_sum"))
        .orderBy(col("event_type"))
    },

    // §2.8 math family: round/floor/ceil/abs/sign/pow/mod in one pass
    // (exact semantics shared by both engines; round is half-up on
    // positive doubles in both).
    "f_math_ops" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          round(col("l_extendedprice") / 7.0, 2).as("r1"),
          floor(col("l_extendedprice")).as("fl"),
          ceil(col("l_extendedprice")).as("ce"),
          abs(col("l_quantity") - 25.0).as("ab"),
          signum(col("l_quantity") - 25.0).cast("int").as("sg"),
          pow(col("l_quantity"), 2.0).as("p2"),
          (col("l_orderkey") % 97).as("md"))
        .groupBy(col("sg"))
        .agg(count(lit(1)).as("n"), sum(col("fl")).as("fl_sum"),
             sum(col("ce")).as("ce_sum"), dsum(col("ab")).as("ab_sum"),
             dsum(col("p2")).as("p2_sum"), sum(col("md")).as("md_sum"),
             dsum(col("r1")).as("r1_sum"))
        .orderBy(col("sg"))
    },

    // §2.8 statistics family: Pearson correlation assembled from
    // decimal-exact component sums (n, Σx, Σy, Σxy, Σx², Σy²) — the
    // assembly arithmetic is identical IEEE on identical inputs, unlike
    // corr()'s engine-specific streaming update order.
    "f_corr_stats" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .withColumn("x", col("o_totalprice"))
        .withColumn("y", expr("CAST(split(o_orderpriority, '-')[0] AS DOUBLE)"))
      val sums = o.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("double").as("n"),
             dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
             dsum(col("x") * col("y")).as("sxy"),
             dsum(col("x") * col("x")).as("sxx"),
             dsum(col("y") * col("y")).as("syy"))
      sums.select(col("o_orderstatus"),
          floor((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))) * 1e6)
            .cast("long").as("corr_micro"),
          col("n").cast("long").as("n_rows"))
        .orderBy(col("o_orderstatus"))
    },

    // inline_outer over a conditionally-empty struct array — empty rows
    // survive with null fields (ref: windowed_lagN…py:119 inline_outer).
    "f_inline_outer" -> { (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("charges",
          when(col("o_orderstatus") === "P", array().cast("array<struct<kind:string,amt:double>>"))
            .otherwise(array(
              struct(lit("base").as("kind"), col("o_totalprice").as("amt")),
              struct(lit("tax").as("kind"), (col("o_totalprice") * 0.1).as("amt")))))
        .select(col("o_orderkey"), expr("inline_outer(charges)"))
        .groupBy(coalesce(col("kind"), lit("(none)")).as("kind"))
        .agg(count(lit(1)).as("n"), coalesce(dsum(col("amt")), lit(0.0)).as("total"))
        .orderBy(col("kind"))
    }
  )

  val oracle: Map[String, String] = Map(
    "p5_where_between" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM orders
         |WHERE o_orderstatus = 'F' AND o_orderpriority LIKE '%URGENT%'
         |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "p11_try_cast" ->
      """SELECT TRY_CAST(string_split(o_orderpriority, '-')[1] AS INT) AS prio_num,
        |  COUNT(*) AS n, COUNT(TRY_CAST(o_orderstatus AS INT)) AS n_status_parsed
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "p12_try_cast_date" ->
      """WITH v AS (
        |  SELECT TRY_CAST(CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS DATE) AS d_ok,
        |    TRY_CAST(o_orderpriority AS DATE) AS d_bad,
        |    TRY_CAST(CAST(CAST(o_orderdate AS DATE) AS VARCHAR) || ' 12:34:56'
        |             AS TIMESTAMP) AS ts_ok
        |  FROM orders)
        |SELECT CAST(year(d_ok) AS INT) AS yr, COUNT(*) AS n,
        |  COUNT(d_ok) AS n_date, COUNT(d_bad) AS n_bad,
        |  MIN(d_ok) AS min_d, MAX(d_ok) AS max_d, COUNT(ts_ok) AS n_ts,
        |  CAST(MAX(ts_ok) AS VARCHAR) AS max_ts
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "a7_collect_set" ->
      """SELECT o_orderstatus,
        |  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "f_from_json_map" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "f_corr_stats" ->
      s"""WITH v AS (
         |  SELECT o_orderstatus, o_totalprice AS x,
         |    CAST(string_split(o_orderpriority, '-')[1] AS DOUBLE) AS y
         |  FROM orders),
         |sums AS (
         |  SELECT o_orderstatus, CAST(COUNT(*) AS DOUBLE) AS n,
         |    ${sqlDsum("x")} AS sx, ${sqlDsum("y")} AS sy,
         |    ${sqlDsum("x * y")} AS sxy, ${sqlDsum("x * x")} AS sxx,
         |    ${sqlDsum("y * y")} AS syy
         |  FROM v GROUP BY o_orderstatus)
         |SELECT o_orderstatus,
         |  CAST(floor((n * sxy - sx * sy) /
         |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) * 1e6) AS BIGINT)
         |    AS corr_micro,
         |  CAST(n AS BIGINT) AS n_rows
         |FROM sums ORDER BY o_orderstatus""".stripMargin,

    "f_math_ops" ->
      s"""WITH m AS (
         |  SELECT round(l_extendedprice / 7.0, 2) AS r1,
         |    CAST(floor(l_extendedprice) AS BIGINT) AS fl,
         |    CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
         |    abs(l_quantity - 25.0) AS ab,
         |    CAST(sign(l_quantity - 25.0) AS INT) AS sg,
         |    pow(l_quantity, 2.0) AS p2,
         |    l_orderkey % 97 AS md
         |  FROM lineitem)
         |SELECT sg, COUNT(*) AS n,
         |  CAST(SUM(fl) AS BIGINT) AS fl_sum, CAST(SUM(ce) AS BIGINT) AS ce_sum,
         |  ${sqlDsum("ab")} AS ab_sum, ${sqlDsum("p2")} AS p2_sum,
         |  CAST(SUM(md) AS BIGINT) AS md_sum, ${sqlDsum("r1")} AS r1_sum
         |FROM m GROUP BY sg ORDER BY sg""".stripMargin,

    "f_inline_outer" ->
      s"""WITH exploded AS (
         |  SELECT o_orderkey, 'base' AS kind, o_totalprice AS amt
         |  FROM orders WHERE o_orderstatus <> 'P'
         |  UNION ALL
         |  SELECT o_orderkey, 'tax', o_totalprice * 0.1
         |  FROM orders WHERE o_orderstatus <> 'P'
         |  UNION ALL
         |  SELECT o_orderkey, NULL, NULL FROM orders WHERE o_orderstatus = 'P')
         |SELECT COALESCE(kind, '(none)') AS kind, COUNT(*) AS n,
         |  COALESCE(${sqlDsum("amt")}, 0.0) AS total
         |FROM exploded GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
