package graft.relational

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The declared relational query surface (SURVEY.md §2B, Q1–Q17) over the
  * driver's TPC-H-ish tables, each paired with an ANSI-SQL oracle the
  * driver runs on DuckDB.
  *
  * Determinism discipline (oracle hash-match):
  *   - double aggregates go through DECIMAL (exact, order-independent)
  *     and are cast back to double, identically on both sides;
  *   - explicit `floor(x+0.5)` instead of engine-specific round();
  *   - every result has a total ordering on its own columns;
  *   - no nulls in output (rollup/cube keys are coalesced to 'ALL').
  */
object RelationalQueries {

  private def li(s: SparkSession, d: String) = Tables.load(s, d, "lineitem")
  private def ord(s: SparkSession, d: String) = Tables.load(s, d, "orders")
  private def cust(s: SparkSession, d: String) = Tables.load(s, d, "customer")
  private def nat(s: SparkSession, d: String) = Tables.load(s, d, "nation")
  private def reg(s: SparkSession, d: String) = Tables.load(s, d, "region")
  private def part(s: SparkSession, d: String) = Tables.load(s, d, "part")

  /** Exact decimal sum of a double column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  // ---------------------------------------------------------------- Q1/Q2
  /** Scan + projection + computed column; pushdown-friendly narrow read. */
  def q01ScanProject(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select($"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy("l_orderkey", "l_linenumber")
  val q01Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |       l_extendedprice * (1.0 - l_discount) AS revenue
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------- Q3
  /** Predicate filter with between + equality + date bound. */
  def q02Filter(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .where($"l_quantity".between(10, 20) && $"l_returnflag" === "R"
        && $"l_shipdate" >= lit("1995-01-01").cast("timestamp_ntz"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity".cast("long").as("qty"))
      .orderBy("l_orderkey", "l_linenumber")
  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty
      |FROM lineitem
      |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'
      |  AND l_shipdate >= TIMESTAMP '1995-01-01'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------- Q4
  /** Row expansion: one output row per unit of l_linenumber (explode). */
  def q03Explode(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .where($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_linenumber",
        explode(sequence(lit(1L), $"l_linenumber".cast("long"))).as("replica"))
      .orderBy("l_orderkey", "l_linenumber", "replica")
  val q03Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |       unnest(generate_series(1, l_linenumber)) AS replica
      |FROM lineitem WHERE l_orderkey % 10 = 0
      |ORDER BY l_orderkey, l_linenumber, replica""".stripMargin

  // ------------------------------------------------------------------- Q7
  /** Hash aggregation with decimal-exact sums (TPC-H Q1 shape). */
  def q04Agg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(24,8)"))
          .cast("double").as("sum_disc_price"),
        (sum($"l_quantity".cast("decimal(18,2)")).cast("double") / count(lit(1)))
          .as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  val q04Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------------- Q5
  /** Star join with broadcast dimensions (nation, region are tiny). */
  def q05JoinBroadcast(s: SparkSession, d: String): DataFrame =
    cust(s, d)
      .join(broadcast(nat(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("customers"), dsum($"c_acctbal").as("total_acctbal"))
      .orderBy("r_name", "n_name")
  val q05Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  /** Multi-way fact-to-fact join: revenue per nation. */
  def q06JoinMultiway(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .join(ord(s, d), $"l_orderkey" === $"o_orderkey")
      .join(cust(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat(s, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(24,8)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("line_count"))
      .orderBy("n_name")
  val q06Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,8))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS line_count
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Semi and anti join: customers with vs without orders, tagged. */
  def q07SemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = cust(s, d); val o = ord(s, d)
    val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("customers"))
      .withColumn("tag", lit("with_orders"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("customers"))
      .withColumn("tag", lit("no_orders"))
    withO.unionByName(without).select($"tag", $"c_mktsegment", $"customers")
      .orderBy("tag", "c_mktsegment")
  }
  val q07Sql: String =
    """SELECT 'with_orders' AS tag, c_mktsegment, COUNT(*) AS customers
      |FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |UNION ALL
      |SELECT 'no_orders' AS tag, c_mktsegment, COUNT(*) AS customers
      |FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY tag, c_mktsegment""".stripMargin

  /** Left outer join + conditional aggregation: lineitem count per order,
    * including empty orders, histogrammed.
    */
  def q08OuterAgg(s: SparkSession, d: String): DataFrame = {
    val perOrder = ord(s, d)
      .join(li(s, d), $"o_orderkey" === $"l_orderkey", "left")
      .groupBy($"o_orderkey")
      .agg(count($"l_linenumber").as("line_cnt"))
    perOrder.groupBy($"line_cnt").agg(count(lit(1)).as("orders"))
      .orderBy("line_cnt")
  }
  val q08Sql: String =
    """SELECT line_cnt, COUNT(*) AS orders FROM (
      |  SELECT o_orderkey, COUNT(l_linenumber) AS line_cnt
      |  FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
      |  GROUP BY o_orderkey
      |) GROUP BY line_cnt ORDER BY line_cnt""".stripMargin

  // ------------------------------------------------------------------ Q10
  /** Ranking window: top-3 orders per customer by totalprice. */
  def q09WindowTopK(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    ord(s, d)
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .select($"o_custkey", $"rn", $"o_orderkey", $"o_totalprice")
      .orderBy("o_custkey", "rn")
  }
  val q09Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders
      |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** Analytic window frames: running and sliding aggregates per customer. */
  def q10WindowFrames(s: SparkSession, d: String): DataFrame = {
    val byCust = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val running = byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sliding = byCust.rowsBetween(-2, 0)
    ord(s, d)
      .select($"o_custkey", $"o_orderkey",
        sum($"o_totalprice".cast("decimal(18,2)")).over(running)
          .cast("double").as("running_total"),
        (sum($"o_totalprice".cast("decimal(18,2)")).over(sliding).cast("double")
          / count(lit(1)).over(sliding)).as("sliding_avg3"))
      .orderBy("o_custkey", "o_orderkey")
  }
  val q10Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_run AS DOUBLE) AS running_total,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w_slide AS DOUBLE)
      |    / COUNT(*) OVER w_slide AS sliding_avg3
      |FROM orders
      |WINDOW
      |  w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  w_slide AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag/lead: day gaps between consecutive orders of a customer. */
  def q11LagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    ord(s, d)
      .select($"o_custkey", $"o_orderkey",
        coalesce(datediff($"o_orderdate".cast("date"),
          lag($"o_orderdate", 1).over(w).cast("date")), lit(-1)).as("gap_days"),
        coalesce(lead($"o_orderkey", 1).over(w), lit(-1)).as("next_order"))
      .orderBy("o_custkey", "o_orderkey")
  }
  val q11Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  COALESCE(date_diff('day',
      |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
      |    CAST(o_orderdate AS DATE)), -1) AS gap_days,
      |  COALESCE(lead(o_orderkey, 1) OVER w, -1) AS next_order
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ------------------------------------------------------------------- Q8
  /** Distinct aggregation. */
  def q12Distinct(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("distinct_orders"),
        countDistinct($"l_suppkey").as("distinct_suppliers"),
        count(lit(1)).as("total_rows"))
      .orderBy("l_returnflag")
  val q12Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS distinct_orders,
      |  COUNT(DISTINCT l_suppkey) AS distinct_suppliers, COUNT(*) AS total_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------- Q9
  /** Rollup with coalesced (null-free) grouping keys. */
  def q13Rollup(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum($"l_quantity").as("sum_qty"))
      .select(coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"cnt", $"sum_qty")
      .orderBy("returnflag", "linestatus")
  val q13Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |       COALESCE(l_linestatus, 'ALL') AS linestatus,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Cube. */
  def q14Cube(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("cnt"), dsum($"o_totalprice").as("sum_total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("orderstatus"),
        coalesce($"o_orderpriority", lit("ALL")).as("orderpriority"),
        $"cnt", $"sum_total")
      .orderBy("orderstatus", "orderpriority")
  val q14Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY orderstatus, orderpriority""".stripMargin

  // ------------------------------------------------------------------ Q12
  /** Set operations: customers ordering in 1994 vs 1995 (distinct keys). */
  def q15SetOps(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    def yr(y: Int) = o.where(year($"o_orderdate") === y).select($"o_custkey")
    val both = yr(1994).intersect(yr(1995)).withColumn("tag", lit("both"))
    val only94 = yr(1994).except(yr(1995)).withColumn("tag", lit("only_1994"))
    val any = yr(1994).union(yr(1995)).distinct().withColumn("tag", lit("any"))
    both.unionByName(only94).unionByName(any)
      .select($"tag", $"o_custkey").orderBy("tag", "o_custkey")
  }
  val q15Sql: String =
    """WITH y94 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994),
      |     y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
      |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM y94 INTERSECT SELECT o_custkey FROM y95)
      |UNION ALL
      |SELECT 'only_1994' AS tag, o_custkey FROM (SELECT o_custkey FROM y94 EXCEPT SELECT o_custkey FROM y95)
      |UNION ALL
      |SELECT 'any' AS tag, o_custkey FROM (SELECT o_custkey FROM y94 UNION SELECT o_custkey FROM y95)
      |ORDER BY tag, o_custkey""".stripMargin

  // ------------------------------------------------------------------ Q11
  /** Global sort + limit with full tiebreak. */
  def q16SortLimit(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .limit(100)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
  val q16Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 100""".stripMargin

  // ------------------------------------------------------------------ Q13
  /** Math/bitwise scalar functions (integer-exact). */
  def q17ScalarMath(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .where($"l_orderkey" % 25 === 0)
      .select($"l_orderkey", $"l_linenumber",
        pmod($"l_orderkey" * -3 + $"l_linenumber", lit(7)).as("pm"),
        shiftleft($"l_linenumber", 3).as("shl"),
        shiftright($"l_orderkey", 2).as("shr"),
        ($"l_orderkey".bitwiseAND(lit(255))).as("band"),
        ($"l_orderkey".bitwiseOR($"l_linenumber")).as("bor"),
        ($"l_orderkey".bitwiseXOR($"l_linenumber")).as("bxor"),
        least($"l_orderkey" % 100, $"l_linenumber" * 10).as("lst"),
        greatest($"l_orderkey" % 100, $"l_linenumber" * 10).as("grt"),
        abs($"l_linenumber" - 4).as("ab"),
        signum($"l_linenumber" - 4).cast("int").as("sgn"),
        floor($"l_orderkey" / 3.0).cast("long").as("flr"),
        ceil($"l_orderkey" / 3.0).cast("long").as("cl"))
      .orderBy("l_orderkey", "l_linenumber")
  val q17Sql: String =
    """SELECT l_orderkey, l_linenumber,
      |  ((l_orderkey * -3 + l_linenumber) % 7 + 7) % 7 AS pm,
      |  l_linenumber << 3 AS shl,
      |  l_orderkey >> 2 AS shr,
      |  l_orderkey & 255 AS band,
      |  l_orderkey | l_linenumber AS bor,
      |  xor(l_orderkey, l_linenumber) AS bxor,
      |  least(l_orderkey % 100, l_linenumber * 10) AS lst,
      |  greatest(l_orderkey % 100, l_linenumber * 10) AS grt,
      |  abs(l_linenumber - 4) AS ab,
      |  CAST(sign(l_linenumber - 4) AS INTEGER) AS sgn,
      |  CAST(floor(l_orderkey / 3.0) AS BIGINT) AS flr,
      |  CAST(ceil(l_orderkey / 3.0) AS BIGINT) AS cl
      |FROM lineitem WHERE l_orderkey % 25 = 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ------------------------------------------------------------------ Q14
  /** String scalar functions. */
  def q18ScalarString(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .where($"p_partkey" % 5 === 0)
      .select($"p_partkey",
        lower($"p_name").as("lo"),
        upper($"p_brand").as("up"),
        length($"p_name").as("len"),
        substring($"p_name", 1, 5).as("sub"),
        concat($"p_brand", lit("#"), $"p_type").as("cat"),
        trim(lit("  x  ")).as("trm"),
        regexp_extract($"p_name", "^(\\w+)", 1).as("first_word"),
        element_at(split($"p_type", " "), 1).as("type_head"),
        reverse($"p_brand").as("rev"),
        lpad($"p_partkey".cast("string"), 8, "0").as("padded"))
      .orderBy("p_partkey")
  val q18Sql: String =
    """SELECT p_partkey,
      |  lower(p_name) AS lo, upper(p_brand) AS up, length(p_name) AS len,
      |  substring(p_name, 1, 5) AS sub,
      |  concat(p_brand, '#', p_type) AS cat,
      |  trim('  x  ') AS trm,
      |  regexp_extract(p_name, '^(\w+)', 1) AS first_word,
      |  string_split(p_type, ' ')[1] AS type_head,
      |  reverse(p_brand) AS rev,
      |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded
      |FROM part WHERE p_partkey % 5 = 0 ORDER BY p_partkey""".stripMargin

  // ------------------------------------------------------------------ Q15
  /** Date/time scalar functions on the events table. */
  def q19DateTime(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .where($"event_id" % 20 === 0)
      .select($"event_id",
        year($"ts").as("yr"), month($"ts").as("mo"),
        dayofmonth($"ts").as("dom"), hour($"ts").as("hr"),
        minute($"ts").as("mi"), quarter($"ts").as("qtr"),
        date_trunc("day", $"ts").cast("date").cast("string").as("day_str"),
        date_format($"ts", "yyyy-MM").as("ym"))
      .orderBy("event_id")
  val q19Sql: String =
    """SELECT event_id,
      |  year(ts) AS yr, month(ts) AS mo, day(ts) AS dom, hour(ts) AS hr,
      |  minute(ts) AS mi, quarter(ts) AS qtr,
      |  CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day_str,
      |  strftime(ts, '%Y-%m') AS ym
      |FROM events WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------------ Q16
  /** Array construction + aggregation into sorted lists. */
  def q20ArrayAgg(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .where($"o_custkey" % 50 === 0)
      .groupBy($"o_custkey")
      .agg(sort_array(collect_list($"o_orderkey")).as("orderkeys"))
      .select($"o_custkey",
        // flattened to CSV: the checked schema stays scalar-only
        array_join($"orderkeys", ",").as("orderkeys_csv"),
        size($"orderkeys").as("n_orders"),
        element_at($"orderkeys", 1).as("first_key"))
      .orderBy("o_custkey")
  val q20Sql: String =
    """SELECT o_custkey,
      |  array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys_csv,
      |  len(list(o_orderkey)) AS n_orders,
      |  list_sort(list(o_orderkey))[1] AS first_key
      |FROM orders WHERE o_custkey % 50 = 0
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Higher-order array functions over the embeddings table: element access,
    * transform, and a sequential dot product. Both engines run the same
    * left fold (Spark `aggregate` vs DuckDB `list_reduce` seeded with 0.0)
    * in double precision; the output is floored to integers. Spark's
    * `floor` returns LONG while DuckDB's returns DOUBLE, so the oracle
    * casts to BIGINT to align the hashed representation.
    */
  def q21ArrayHigherOrder(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .where($"vec_id" < 50)
      .select($"vec_id", $"label",
        size($"embedding").as("dim"),
        floor(element_at($"embedding", 1).cast("double") * 1e6 + 0.5).as("e1_micro"),
        floor(aggregate(transform($"embedding", x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x) * 1e4 + 0.5).as("sqnorm_x1e4"))
      .orderBy("vec_id")
  val q21Sql: String =
    """SELECT vec_id, label, len(embedding) AS dim,
      |  CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS e1_micro,
      |  CAST(floor(list_reduce(
      |        list_prepend(0.0, list_transform(embedding,
      |          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |        (acc, x) -> acc + x) * 1e4 + 0.5) AS BIGINT) AS sqnorm_x1e4
      |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------------- Q6
  /** Non-equi (range) join: orders bucketed into price bands. */
  def q22RangeJoin(s: SparkSession, d: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      ("band0", 0.0, 50000.0), ("band1", 50000.0, 150000.0),
      ("band2", 150000.0, 300000.0), ("band3", 300000.0, 1e9)))
      .toDF("band", "lo", "hi")
    ord(s, d)
      .join(broadcast(bands), $"o_totalprice" >= $"lo" && $"o_totalprice" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("orders"), dsum($"o_totalprice").as("sum_total"))
      .orderBy("band")
  }
  val q22Sql: String =
    """WITH bands(band, lo, hi) AS (VALUES
      |  ('band0', 0.0, 50000.0), ('band1', 50000.0, 150000.0),
      |  ('band2', 150000.0, 300000.0), ('band3', 300000.0, 1e9))
      |SELECT band, COUNT(*) AS orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** As-of flavored: for each 'purchase' event, the most recent prior
    * 'click' event of the same user (event-time ordered, ignore-nulls
    * last_value over preceding frame).
    */
  def q23AsOf(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("prior_click",
        last(when($"event_type" === "click", $"event_id"), ignoreNulls = true).over(w))
      .where($"event_type" === "purchase")
      .select($"user_id", $"event_id", coalesce($"prior_click", lit(-1)).as("prior_click"))
      .orderBy("user_id", "event_id")
  }
  val q23Sql: String =
    """SELECT user_id, event_id, COALESCE(prior_click, -1) AS prior_click FROM (
      |  SELECT user_id, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
      |  FROM events
      |) WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin

  // ------------------------------------------------------------------ Q17
  /** UDAF surface: exponentially weighted average (alpha = 0.5, exact in
    * binary) of order totals per customer, via the typed Aggregator in
    * [[graft.functions.EmaAggregator]]. The oracle runs the same
    * recurrence fold (`acc' = (1-a)*acc + a*x` over the same ordering) via
    * DuckDB's `list_reduce` on an ordered list aggregate; 0.5-multiplies
    * are exact in binary so the fold sees identical operands on both
    * engines. The floored output is cast to BIGINT in the oracle because
    * DuckDB's `floor` returns DOUBLE where Spark's returns LONG.
    */
  def q24Ema(s: SparkSession, d: String): DataFrame = {
    val emaUdaf = udaf(new graft.functions.EmaAggregator(0.5))
    ord(s, d).groupBy($"o_custkey")
      .agg(emaUdaf(
        datediff($"o_orderdate".cast("date"), lit("1990-01-01").cast("date")).cast("long"),
        $"o_orderkey", $"o_totalprice").as("ema_raw"),
        count(lit(1)).as("n_orders"))
      .select($"o_custkey", floor($"ema_raw" * 1e4 + 0.5).as("ema_x1e4"), $"n_orders")
      .orderBy("o_custkey")
  }
  val q24Sql: String =
    """SELECT o_custkey,
      |  CAST(floor(list_reduce(list(o_totalprice ORDER BY o_orderdate, o_orderkey),
      |        (acc, x) -> 0.5 * acc + 0.5 * x) * 1e4 + 0.5) AS BIGINT) AS ema_x1e4,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Approximate distinct (HLL) with a checkable contract: emit the exact
    * distinct count plus a boolean asserting the HLL estimate (rsd = 0.01)
    * landed within 5% of it (5 standard deviations — deterministically true
    * for Spark's HLL++ on any realistic input). The oracle computes the
    * exact count and TRUE, so the result is verifiable on both engines.
    */
  def q25ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    // The HLL and the exact distinct are computed in SEPARATE aggregations
    // and joined on the (tiny) group key. Mixing them in one agg triggers
    // the distinct-aggregate Expand rewrite, which carries a partial HLL
    // buffer (2^14 registers at rsd=0.01) per (group, orderkey) pair —
    // gigabytes of aggregation state and a >100x slowdown, vs ~2s for the
    // two independent single-pass aggregates.
    val base = li(s, d).select($"l_returnflag", $"l_orderkey")
    val approx = base.groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_orderkey", 0.01).as("approx_orders"))
    val exact = base.groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact_orders"))
    exact.join(broadcast(approx), Seq("l_returnflag"))
      .select($"l_returnflag", $"exact_orders",
        (abs($"approx_orders" - $"exact_orders") <=
          $"exact_orders".cast("double") * 0.05).as("approx_within_5pct"))
      .orderBy("l_returnflag")
  }
  val q25Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
      |       TRUE AS approx_within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------------------ Q21+
  /** Pivot: wide per-linestatus quantity totals, one column per return
    * flag (explicit value list so the plan needs no extra distinct-values
    * job — the scalable form at 100 TB; an unlisted-values pivot adds one
    * full pass just to learn the column set). Map-side partial aggregation
    * then one shuffle on the 2-value group key.
    */
  def q26Pivot(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum($"l_quantity"))
      .select($"l_linestatus", $"A".as("qty_a"), $"N".as("qty_n"),
        $"R".as("qty_r"))
      .orderBy("l_linestatus")
  val q26Sql: String =
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
      |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
      |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Unpivot (melt): the inverse of q26 — stack the wide flag columns
    * back to (linestatus, flag, qty) rows. Row-local generator, no
    * shuffle beyond q26's aggregation.
    */
  def q27Unpivot(s: SparkSession, d: String): DataFrame =
    q26Pivot(s, d)
      .select($"l_linestatus",
        expr("stack(3, 'A', qty_a, 'N', qty_n, 'R', qty_r)")
          .as(Seq("returnflag", "sum_qty")))
      .orderBy("l_linestatus", "returnflag")
  val q27Sql: String =
    """WITH wide AS (
      |  SELECT l_linestatus,
      |    CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_a,
      |    CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_r
      |  FROM lineitem GROUP BY l_linestatus)
      |SELECT l_linestatus, 'A' AS returnflag, qty_a AS sum_qty FROM wide
      |UNION ALL
      |SELECT l_linestatus, 'N', qty_n FROM wide
      |UNION ALL
      |SELECT l_linestatus, 'R', qty_r FROM wide
      |ORDER BY l_linestatus, returnflag""".stripMargin

  /** Exact grouped quantiles with the discrete "value at ceil(p*n) in
    * sorted order" definition — deterministic across engines (no
    * interpolation arithmetic to diverge on), ties irrelevant (the value
    * AT a multiset position is unique however ties are ordered).
    *
    * Computed over a VALUE HISTOGRAM, not a per-group row sort: the
    * quantile column (l_quantity) has a bounded discrete domain (~50
    * values), so `group by (flag, q)` collapses the table to
    * #groups x #values rows with full map-side partial aggregation —
    * every core participates regardless of how few groups there are —
    * and the position lookup (smallest q whose running count reaches
    * ceil(p*n), identical to the value at that sorted position) is a
    * window over the tiny histogram. The previous rank-window
    * formulation partitioned by the 3-value group key, so 3 tasks
    * sorted 200k rows each while 29 cores idled; at 100 TB the
    * histogram shape stays ~150 rows while the sort shape stays
    * 3 tasks. For genuinely high-cardinality value domains the
    * histogram degrades toward the sort and `approx_percentile`
    * (t-digest, one pass, mergeable) is the documented alternative.
    */
  def q28Quantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = li(s, d).select($"l_returnflag", $"l_quantity".cast("long").as("q"))
    val hist = base.groupBy($"l_returnflag", $"q").agg(count(lit(1)).as("c"))
    val byFlag = Window.partitionBy("l_returnflag")
    val cum = hist
      .withColumn("cum", sum($"c").over(byFlag.orderBy($"q")))
      .withColumn("n", sum($"c").over(byFlag))
    def at(p: Double) = min(when($"cum" >= ceil($"n" * p).cast("long"), $"q"))
    cum.groupBy($"l_returnflag")
      .agg(at(0.5).as("p50"), at(0.9).as("p90"), at(0.99).as("p99"))
      .orderBy("l_returnflag")
  }
  val q28Sql: String =
    """WITH b AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q FROM lineitem),
      |r AS (
      |  SELECT l_returnflag, q,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY q) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM b)
      |SELECT l_returnflag,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN q END) AS p50,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN q END) AS p90,
      |  MAX(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN q END) AS p99
      |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** The rank-family window functions not covered by q09-q11: ntile,
    * dense_rank, percent_rank, cume_dist over a per-group ordering with
    * a full tiebreak (rank functions are order-sensitive, so the ORDER
    * BY must be total for cross-engine determinism). percent_rank /
    * cume_dist are exact rational arithmetic on identical operands —
    * no float divergence.
    */
  def q29WindowRanks(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    ord(s, d)
      .where($"o_orderkey" % 50 === 0)
      .select($"o_orderpriority", $"o_orderkey",
        ntile(4).over(w).as("quartile"),
        dense_rank().over(w).as("drank"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"))
      .orderBy("o_orderpriority", "o_orderkey")
  }
  val q29Sql: String =
    """SELECT o_orderpriority, o_orderkey,
      |  NTILE(4) OVER w AS quartile,
      |  DENSE_RANK() OVER w AS drank,
      |  PERCENT_RANK() OVER w AS prank,
      |  CUME_DIST() OVER w AS cdist
      |FROM orders WHERE o_orderkey % 50 = 0
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey ASC)
      |ORDER BY o_orderpriority, o_orderkey""".stripMargin

  /** Correlated scalar subquery: orders beating 1.5x their customer's
    * average order value. Catalyst decorrelates this into an aggregate +
    * join (RewriteCorrelatedScalarSubquery) — no per-row re-execution —
    * which is exactly the 100 TB-safe plan. The inner AVG runs on
    * DECIMAL so both engines compute the identical exact rational
    * (double AVG would be partial-order-dependent).
    */
  def q30CorrelatedSubquery(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM parquet.`$d/orders.parquet` o
         |WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
         |  (SELECT CAST(1.5 AS DECIMAL(4,2)) * AVG(CAST(o2.o_totalprice AS DECIMAL(18,2)))
         |   FROM parquet.`$d/orders.parquet` o2
         |   WHERE o2.o_custkey = o.o_custkey)
         |ORDER BY o_orderkey""".stripMargin)
  val q30Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(18,2)) >
      |  (SELECT CAST(1.5 AS DECIMAL(4,2)) * AVG(CAST(o2.o_totalprice AS DECIMAL(18,2)))
      |   FROM orders o2
      |   WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Bare GROUPING SETS (Q9's third form next to rollup/cube): an
    * explicit NON-hierarchical set list — (status, priority), (priority),
    * () — which neither ROLLUP nor CUBE can express (rollup drops the
    * trailing key first; this keeps the second key alone). Spark expands
    * the three sets into a single Expand + one hash aggregate: one scan,
    * one shuffle for all granularities, same scale shape as rollup/cube.
    */
  def q31GroupingSets(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
         |       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
         |       COUNT(*) AS cnt,
         |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
         |FROM parquet.`$d/orders.parquet`
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
         |ORDER BY orderstatus, orderpriority""".stripMargin)
  val q31Sql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
      |       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())
      |ORDER BY orderstatus, orderpriority""".stripMargin

  /** Recursive CTE (Spark 4's UnionLoop): walks the implicit binary-tree
    * hierarchy parent(id) = id div 2 over the documents table from the
    * root and reports the population per depth. Each recursion step is a
    * fully distributed equi-join of the base table against the previous
    * frontier — the loop adds rounds, never a driver-side traversal, so
    * a 100 TB hierarchy walks in O(depth) shuffle joins exactly like the
    * l17 connected-components rounds. DuckDB's WITH RECURSIVE computes
    * the identical fixpoint (integer division `div` vs `//`).
    */
  def q32RecursiveCte(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""WITH RECURSIVE r AS (
         |  SELECT doc_id, 0 AS depth
         |  FROM parquet.`$d/documents.parquet` WHERE doc_id = 0
         |  UNION ALL
         |  SELECT d.doc_id, r.depth + 1
         |  FROM parquet.`$d/documents.parquet` d
         |  JOIN r ON d.doc_id div 2 = r.doc_id AND d.doc_id <> 0)
         |SELECT depth, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
         |       MAX(doc_id) AS max_id
         |FROM r GROUP BY depth ORDER BY depth""".stripMargin)
  val q32Sql: String =
    """WITH RECURSIVE r AS (
      |  SELECT doc_id, 0 AS depth FROM documents WHERE doc_id = 0
      |  UNION ALL
      |  SELECT d.doc_id, r.depth + 1
      |  FROM documents d JOIN r ON d.doc_id // 2 = r.doc_id AND d.doc_id <> 0)
      |SELECT depth, COUNT(*) AS n_docs, MIN(doc_id) AS min_id,
      |       MAX(doc_id) AS max_id
      |FROM r GROUP BY depth ORDER BY depth""".stripMargin

  /** NOT IN with a nullable subquery — the classic three-valued-logic
    * trap (one NULL in the subquery empties the result under ANSI
    * semantics). Spark must plan this as a null-aware anti join (NAAJ),
    * not a plain LeftAnti: the build side is the small filtered customer
    * set, broadcast with its null flag, so the probe stays a streaming
    * hash lookup at any fact-table scale. PlanSpec pins the NAAJ shape.
    */
  def q33NullAwareAnti(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT o_orderpriority, COUNT(*) AS n
         |FROM parquet.`$d/orders.parquet`
         |WHERE o_custkey NOT IN
         |  (SELECT c_custkey FROM parquet.`$d/customer.parquet`
         |   WHERE c_acctbal < 0)
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  val q33Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders
      |WHERE o_custkey NOT IN
      |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** LATERAL correlated table subquery — each customer's top-2 orders
    * by price, a per-row dependent table expression (SQL:2016 LATERAL,
    * native in DuckDB). Catalyst decorrelates the ORDER BY + LIMIT
    * inner query into a rank window over an equi-join on the
    * correlation key — ONE shuffle keyed by customer at any scale,
    * never a per-outer-row re-execution of the inner query. PlanSpec
    * pins the decorrelated no-reexecution shape.
    */
  def q34Lateral(s: SparkSession, d: String): DataFrame =
    s.sql(
      s"""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
         |FROM parquet.`$d/customer.parquet` c,
         |LATERAL (
         |  SELECT o_orderkey, o_totalprice
         |  FROM parquet.`$d/orders.parquet`
         |  WHERE o_custkey = c.c_custkey
         |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
         |WHERE c.c_custkey % 100 = 1
         |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)
  val q34Sql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      |FROM customer c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders
      |  WHERE o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
      |WHERE c.c_custkey % 100 = 1
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  /** JSON functions over the events.props payload column: both the
    * path-extraction form (`get_json_object`, codegen'd, no schema
    * needed) and the typed-parse form (`from_json` to a struct — the
    * shape a 100 TB semi-structured ingest would use, parse once then
    * prune columns). Row-local, embarrassingly parallel; the filter
    * prunes before any JSON work. Oracle: DuckDB json_extract_string.
    */
  def q35Json(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
    ev.where($"event_id" % 20 === 0)
      .select($"event_id", $"event_type",
        get_json_object($"props", "$.k").cast("long").as("k_path"),
        from_json($"props", org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
          .getField("k").as("k_typed"))
      .withColumn("k_bucket", ($"k_path" / lit(10)).cast("long"))
      .orderBy("event_id")
  }
  val q35Sql: String =
    """SELECT event_id, event_type,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket
      |FROM events WHERE event_id % 20 = 0 ORDER BY event_id""".stripMargin

  /** Map-typed surface (Q16): per region build a name->key map with
    * `map_from_arrays`, then interrogate it with `map_keys`/
    * `element_at`/`map_values` + higher-order `aggregate`. The map stays
    * intra-row (built from a grouped collect over a small dimension);
    * output flattens to scalars so the oracle can mirror it relationally
    * (arg_min / count / sum without any MAP type).
    */
  def q36Map(s: SparkSession, d: String): DataFrame =
    nat(s, d)
      .groupBy($"n_regionkey".cast("long").as("region"))
      .agg(map_from_arrays(
        collect_list($"n_name"),
        collect_list($"n_nationkey".cast("long"))).as("m"))
      .select($"region",
        size(map_keys($"m")).cast("long").as("n_keys"),
        array_min(map_keys($"m")).as("first_key"),
        element_at($"m", array_min(map_keys($"m"))).as("first_val"),
        aggregate(map_values($"m"), lit(0L), (a, x) => a + x).as("val_sum"))
      .orderBy("region")
  val q36Sql: String =
    """SELECT CAST(n_regionkey AS BIGINT) AS region,
      |  COUNT(*) AS n_keys,
      |  MIN(n_name) AS first_key,
      |  CAST(arg_min(n_nationkey, n_name) AS BIGINT) AS first_val,
      |  CAST(SUM(n_nationkey) AS BIGINT) AS val_sum
      |FROM nation GROUP BY n_regionkey ORDER BY region""".stripMargin

  /** Time-based RANGE window frames (Q10 family): per user, the count
    * and integer load of events in the trailing hour of each event —
    * `rangeBetween` on epoch seconds, not `rowsBetween` on positions.
    * RANGE frames include all ties of the current order value, so the
    * result is deterministic even when (user, second) collides. One
    * shuffle keyed by user at any scale. Both engines floor-divide
    * micros to seconds (CAST in DuckDB would round-half-up).
    */
  def q37RangeWindow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .withColumn("tsec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
    val w = Window.partitionBy($"user_id").orderBy($"tsec")
      .rangeBetween(-3600L, Window.currentRow)
    ev.select($"user_id", $"event_id", $"tsec",
        count(lit(1)).over(w).as("n_1h"),
        sum(($"event_id" % 100).cast("long")).over(w).as("load_1h"))
      .where($"event_id" % 25 === 0)
      .orderBy("user_id", "event_id")
  }
  val q37Sql: String =
    """SELECT user_id, event_id, tsec, n_1h, load_1h FROM (
      |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec,
      |    COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h,
      |    CAST(SUM(event_id % 100) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) // 1000000
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS load_1h
      |  FROM events)
      |WHERE event_id % 25 = 0 ORDER BY user_id, event_id""".stripMargin

  /** Batch sessionization: a gap of more than 30 minutes starts a new
    * session; sessions are numbered per user by a cumulative sum of the
    * new-session flag (lag + running sum — the standard gaps-and-islands
    * form), then aggregated to per-session stats. All shuffles are keyed
    * by user; integer-exact output.
    */
  def q38Sessionize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .withColumn("tsec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
    val wOrd = Window.partitionBy($"user_id").orderBy($"tsec", $"event_id")
    val newSess = when(
      lag($"tsec", 1).over(wOrd).isNull ||
        ($"tsec" - lag($"tsec", 1).over(wOrd)) > 1800, 1L).otherwise(0L)
    ev.withColumn("new_sess", newSess)
      .withColumn("session_idx",
        sum($"new_sess").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_idx")
      .agg(count(lit(1)).as("n_events"),
        (max($"tsec") - min($"tsec")).as("duration_sec"),
        min($"event_id").as("first_event"))
      .where($"user_id" % 20 === 0)
      .orderBy("user_id", "session_idx")
  }
  val q38Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS tsec FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, tsec,
      |    CASE WHEN lag(tsec) OVER w IS NULL
      |           OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, tsec,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tsec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      |  FROM flagged)
      |SELECT user_id, session_idx, COUNT(*) AS n_events,
      |  MAX(tsec) - MIN(tsec) AS duration_sec, MIN(event_id) AS first_event
      |FROM sess GROUP BY user_id, session_idx
      |HAVING user_id % 20 = 0
      |ORDER BY user_id, session_idx""".stripMargin

  /** Error-safe scalar functions (ANSI-failure family): `try_cast` on
    * parseable and unparseable strings, `try_element_at` in and out of
    * bounds, `try_to_timestamp` on both a real datetime rendering and
    * garbage — all row-local and engine-mirrorable (DuckDB TRY_CAST /
    * list_extract, which are NULL-on-failure by the same contract). The
    * timestamp round-trips through a string on both engines so the
    * output schema stays scalar-text (no raw temporal hashing).
    */
  def q39TryFunctions(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .where($"o_orderkey" % 20 === 0)
      .select($"o_orderkey",
        expr("try_cast(substring(o_orderpriority, 1, 1) as bigint)").as("prio_num"),
        expr("try_cast(o_orderstatus as bigint)").as("status_num"),
        expr("try_element_at(split(o_orderpriority, '-'), 2)").as("prio_word2"),
        expr("try_element_at(split(o_orderpriority, '-'), 3)").as("prio_word3"),
        expr("cast(try_to_timestamp(cast(o_orderdate as string)) as string)").as("ts_good"),
        expr("cast(try_to_timestamp(o_orderpriority) as string)").as("ts_bad"))
      .orderBy("o_orderkey")
  val q39Sql: String =
    """SELECT o_orderkey,
      |  TRY_CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS prio_num,
      |  TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
      |  list_extract(string_split(o_orderpriority, '-'), 2) AS prio_word2,
      |  list_extract(string_split(o_orderpriority, '-'), 3) AS prio_word3,
      |  CAST(TRY_CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP) AS VARCHAR) AS ts_good,
      |  CAST(TRY_CAST(o_orderpriority AS TIMESTAMP) AS VARCHAR) AS ts_bad
      |FROM orders WHERE o_orderkey % 20 = 0 ORDER BY o_orderkey""".stripMargin

  /** Approximate grouped quantiles with a verified rank-error bound —
    * the q25 discipline applied to `percentile_approx` (Spark's GK-style
    * sketch): the sketch's merge order is not deterministic across runs,
    * so the APPROX VALUE itself is never output; instead the query
    * outputs the exact discrete quantiles (q28's ceil(p*n) definition)
    * plus booleans asserting the sketch landed within its documented
    * rank guarantee (|rank(approx) - ceil(p*n)| <= n/accuracy + 1),
    * which holds on every merge order. Oracle: exact quantiles + TRUE.
    * Three single-pass aggregates + joins on the tiny group key — the
    * sketch is the 100 TB path (mergeable, bounded state), the exact
    * rank check is the verification harness.
    */
  def q40ApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    val base = ord(s, d).select($"o_orderpriority", $"o_totalprice")
    val acc = 1000
    val approx = base.groupBy($"o_orderpriority")
      .agg(expr(s"percentile_approx(o_totalprice, array(0.5D, 0.9D), $acc)").as("ap"))
      .select($"o_orderpriority", element_at($"ap", 1).as("ap50"),
        element_at($"ap", 2).as("ap90"))
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    val ranked = base.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
    val exact = ranked
      .groupBy($"o_orderpriority", $"n")
      .agg(min(when($"rn" === ceil($"n" * 0.5), $"o_totalprice")).as("exact_p50"),
        min(when($"rn" === ceil($"n" * 0.9), $"o_totalprice")).as("exact_p90"))
    val bounds = base.join(broadcast(approx), Seq("o_orderpriority"))
      .groupBy($"o_orderpriority")
      .agg(sum(when($"o_totalprice" <= $"ap50", 1L).otherwise(0L)).as("le50"),
        sum(when($"o_totalprice" <= $"ap90", 1L).otherwise(0L)).as("le90"))
    exact.join(bounds, Seq("o_orderpriority"))
      .select($"o_orderpriority", $"exact_p50", $"exact_p90",
        (abs($"le50" - ceil($"n" * 0.5)) <= $"n" / acc + 1).as("p50_in_bound"),
        (abs($"le90" - ceil($"n" * 0.9)) <= $"n" / acc + 1).as("p90_in_bound"))
      .orderBy("o_orderpriority")
  }
  val q40Sql: String =
    """WITH ranked AS (
      |  SELECT o_orderpriority, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority,
      |  MIN(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN o_totalprice END) AS exact_p50,
      |  MIN(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN o_totalprice END) AS exact_p90,
      |  TRUE AS p50_in_bound, TRUE AS p90_in_bound
      |FROM ranked GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** SCD type-2 batch upsert (warehouse MERGE semantics expressed as
    * joins — Spark has no MERGE outside table formats, and at 100 TB the
    * merge IS these equi-joins on the business key): an update batch
    * (changed balances + brand-new keys, both derived deterministically
    * from the dimension itself) is applied with full history — matched
    * keys expire their version-1 row and gain a current version-2 row,
    * unmatched keys pass through current, new keys insert. Four
    * branches, every join keyed by c_custkey (one shuffle key at scale;
    * the update batch would broadcast when small).
    */
  def q41Scd2Upsert(s: SparkSession, d: String): DataFrame = {
    val dim = cust(s, d).select($"c_custkey", $"c_acctbal", $"c_mktsegment")
    val updates = dim.where($"c_custkey" % 10 === 3)
      .select($"c_custkey", ($"c_acctbal" + 100.0).as("u_acctbal"),
        $"c_mktsegment".as("u_seg"))
      .unionByName(dim.where($"c_custkey" % 100 === 7)
        .select(($"c_custkey" + 100000).as("c_custkey"),
          $"c_acctbal".as("u_acctbal"), $"c_mktsegment".as("u_seg")))
    val expired = dim.join(updates, Seq("c_custkey"), "left_semi")
      .select($"c_custkey", lit(1L).as("version"), $"c_acctbal".as("acctbal"),
        $"c_mktsegment".as("segment"), lit(false).as("is_current"))
    val updatedNew = dim.join(updates, Seq("c_custkey"))
      .select($"c_custkey", lit(2L).as("version"), $"u_acctbal".as("acctbal"),
        $"u_seg".as("segment"), lit(true).as("is_current"))
    val untouched = dim.join(updates, Seq("c_custkey"), "left_anti")
      .select($"c_custkey", lit(1L).as("version"), $"c_acctbal".as("acctbal"),
        $"c_mktsegment".as("segment"), lit(true).as("is_current"))
    val inserts = updates.join(dim, Seq("c_custkey"), "left_anti")
      .select($"c_custkey", lit(1L).as("version"), $"u_acctbal".as("acctbal"),
        $"u_seg".as("segment"), lit(true).as("is_current"))
    expired.unionByName(updatedNew).unionByName(untouched).unionByName(inserts)
      .orderBy("c_custkey", "version")
  }
  val q41Sql: String =
    """WITH dim AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      |upd AS (
      |  SELECT c_custkey, c_acctbal + 100.0 AS u_acctbal, c_mktsegment AS u_seg
      |  FROM dim WHERE c_custkey % 10 = 3
      |  UNION ALL
      |  SELECT c_custkey + 100000 AS c_custkey, c_acctbal AS u_acctbal,
      |         c_mktsegment AS u_seg
      |  FROM dim WHERE c_custkey % 100 = 7)
      |SELECT d.c_custkey, 1 AS version, d.c_acctbal AS acctbal,
      |       d.c_mktsegment AS segment, FALSE AS is_current
      |FROM dim d WHERE EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = d.c_custkey)
      |UNION ALL
      |SELECT d.c_custkey, 2 AS version, u.u_acctbal, u.u_seg, TRUE
      |FROM dim d JOIN upd u ON d.c_custkey = u.c_custkey
      |UNION ALL
      |SELECT d.c_custkey, 1, d.c_acctbal, d.c_mktsegment, TRUE
      |FROM dim d WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = d.c_custkey)
      |UNION ALL
      |SELECT u.c_custkey, 1, u.u_acctbal, u.u_seg, TRUE
      |FROM upd u WHERE NOT EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = u.c_custkey)
      |ORDER BY c_custkey, version""".stripMargin

  /** Array set operations (Q16 completion): intersect / union / except /
    * overlap / position over word arrays. Spark's array set functions
    * return DISTINCT elements in first-array order while DuckDB's
    * list_intersect/list_distinct are unordered — so the output exposes
    * only order-independent facts (sizes, booleans, positions), the same
    * canonicalization trick as the map query.
    */
  def q42ArraySetOps(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select($"p_partkey", $"p_type",
        split($"p_name", " ").as("a1"),
        array(element_at(split($"p_name", " "), 1), lower($"p_type")).as("a2"))
      .select($"p_partkey",
        size(array_intersect($"a1", $"a2")).cast("long").as("n_inter"),
        size(array_union($"a1", $"a2")).cast("long").as("n_union"),
        size(array_except($"a1", $"a2")).cast("long").as("n_except"),
        arrays_overlap($"a1", $"a2").as("has_any"),
        array_position($"a1", lower($"p_type")).cast("long").as("pos_type"))
      .orderBy("p_partkey")
  val q42Sql: String =
    """WITH a AS (
      |  SELECT p_partkey, p_type, string_split(p_name, ' ') AS a1,
      |    [list_extract(string_split(p_name, ' '), 1), lower(p_type)] AS a2
      |  FROM part)
      |SELECT p_partkey,
      |  CAST(len(list_distinct(list_intersect(a1, a2))) AS BIGINT) AS n_inter,
      |  CAST(len(list_distinct(a1 || a2)) AS BIGINT) AS n_union,
      |  CAST(len(list_distinct(list_filter(a1, x -> NOT list_contains(a2, x)))) AS BIGINT) AS n_except,
      |  list_has_any(a1, a2) AS has_any,
      |  CAST(COALESCE(list_position(a1, lower(p_type)), 0) AS BIGINT) AS pos_type
      |FROM a ORDER BY p_partkey""".stripMargin

  /** Regex function family (Q14 completion): multi-match extraction
    * (`regexp_extract_all`, flattened to CSV so the schema stays
    * scalar), match counting, anchored group extraction, and global
    * replacement. Row-local; POSIX-class-free patterns keep Java and RE2
    * dialect semantics identical.
    */
  def q43Regexp(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .where($"p_partkey" % 4 === 0)
      .select($"p_partkey",
        array_join(expr("regexp_extract_all(p_name, '[aeiou]+', 0)"), ",").as("vowel_runs"),
        size(expr("regexp_extract_all(p_name, '[aeiou]', 0)")).cast("long").as("n_vowels"),
        regexp_extract($"p_name", "^([a-z]+)", 1).as("first_word"),
        regexp_replace($"p_type", "[AEIOU]", "*").as("masked_type"))
      .orderBy("p_partkey")
  val q43Sql: String =
    """SELECT p_partkey,
      |  array_to_string(regexp_extract_all(p_name, '[aeiou]+'), ',') AS vowel_runs,
      |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
      |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      |  regexp_replace(p_type, '[AEIOU]', '*', 'g') AS masked_type
      |FROM part WHERE p_partkey % 4 = 0 ORDER BY p_partkey""".stripMargin

  /** Null-aware navigation windows (Q10 completion): first_value /
    * nth_value(2) / last_value with IGNORE NULLS over a sparse column
    * (order totals visible only on open orders) — the gap-filling idiom
    * behind every as-of/carry-forward query. Windows partitioned by
    * priority, ordered by the unique key, so results are deterministic;
    * no arithmetic on the doubles (pure value selection hashes
    * identically on both engines).
    */
  def q44WindowNav(s: SparkSession, d: String): DataFrame = {
    val nv = when($"o_orderstatus" === "O", $"o_totalprice")
    val grow = Window.partitionBy($"o_orderpriority").orderBy($"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy($"o_orderpriority").orderBy($"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ord(s, d)
      .withColumn("first_open", first(nv, ignoreNulls = true).over(grow))
      .withColumn("second_open", nth_value(nv, 2, ignoreNulls = true).over(grow))
      .withColumn("last_open", last(nv, ignoreNulls = true).over(full))
      .where($"o_orderkey" % 40 === 0)
      .select($"o_orderkey", $"o_orderpriority",
        $"first_open", $"second_open", $"last_open")
      .orderBy("o_orderkey")
  }
  val q44Sql: String =
    """SELECT o_orderkey, o_orderpriority, first_open, second_open, last_open
      |FROM (
      |  SELECT o_orderkey, o_orderpriority,
      |    first_value(nv IGNORE NULLS) OVER w AS first_open,
      |    nth_value(nv, 2 IGNORE NULLS) OVER w AS second_open,
      |    last_value(nv IGNORE NULLS) OVER (PARTITION BY o_orderpriority
      |      ORDER BY o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_open
      |  FROM (
      |    SELECT o_orderkey, o_orderpriority,
      |      CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS nv
      |    FROM orders)
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |WHERE o_orderkey % 40 = 0 ORDER BY o_orderkey""".stripMargin

  /** Full outer join (Q5 completion — the one join type the surface
    * lacked): ledger-reconciliation shape, two independently-derived
    * per-customer summaries full-outer joined on the business key with
    * presence flags and coalesced values — rows exclusive to either side
    * both survive. One shuffle keyed by customer; full outer never
    * broadcasts (both sides must stream), which is exactly the plan a
    * reconciliation needs at scale.
    */
  def q45FullOuter(s: SparkSession, d: String): DataFrame = {
    val left = ord(s, d).where($"o_custkey" % 3 === 0)
      .groupBy($"o_custkey".as("custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val right = cust(s, d).where($"c_custkey" % 2 === 0)
      .select($"c_custkey".as("custkey"), $"c_acctbal")
    left.join(right, Seq("custkey"), "full_outer")
      .select($"custkey",
        coalesce($"n_orders", lit(0L)).as("n_orders"),
        $"n_orders".isNotNull.as("has_orders"),
        $"c_acctbal".isNotNull.as("known_customer"),
        (($"custkey" % 6) === 0).as("expect_both"))
      .orderBy("custkey")
  }
  val q45Sql: String =
    """SELECT COALESCE(o.custkey, c.custkey) AS custkey,
      |  COALESCE(o.n_orders, 0) AS n_orders,
      |  o.custkey IS NOT NULL AS has_orders,
      |  c.custkey IS NOT NULL AS known_customer,
      |  COALESCE(o.custkey, c.custkey) % 6 = 0 AS expect_both
      |FROM (
      |  SELECT o_custkey AS custkey, COUNT(*) AS n_orders
      |  FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey) o
      |FULL JOIN (
      |  SELECT c_custkey AS custkey, c_acctbal FROM customer
      |  WHERE c_custkey % 2 = 0) c
      |ON o.custkey = c.custkey
      |ORDER BY custkey""".stripMargin

  /** Datetime arithmetic (Q15 completion beyond q19's field extraction):
    * day/month offsets with end-of-month clamping (both engines clamp
    * Jan 31 + 1 month identically), last_day, quarter truncation, day
    * differences, and a portable linear month index. Dates render as
    * strings so the hashed schema stays scalar-text; all arithmetic is
    * calendar-exact (no timezones — the column is NTZ on both engines).
    */
  def q46DateArith(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .where($"o_orderkey" % 15 === 0)
      .select($"o_orderkey",
        date_add($"o_orderdate".cast("date"), 30).cast("string").as("plus_30d"),
        add_months($"o_orderdate".cast("date"), 2).cast("string").as("plus_2m"),
        last_day($"o_orderdate".cast("date")).cast("string").as("month_end"),
        date_trunc("quarter", $"o_orderdate").cast("date").cast("string").as("quarter_start"),
        datediff(lit("1996-01-01").cast("date"), $"o_orderdate".cast("date"))
          .cast("long").as("days_to_96"),
        (year($"o_orderdate") * 12 + month($"o_orderdate")).cast("long").as("month_index"))
      .orderBy("o_orderkey")
  val q46Sql: String =
    """SELECT o_orderkey,
      |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS plus_30d,
      |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus_2m,
      |  CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
      |  CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR) AS quarter_start,
      |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1996-01-01') AS BIGINT) AS days_to_96,
      |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS month_index
      |FROM orders WHERE o_orderkey % 15 = 0 ORDER BY o_orderkey""".stripMargin

  /** Exact higher statistical moments (Q7 completion past sums/avgs):
    * variance, skewness, and excess kurtosis per group, computed from
    * INTEGER power sums (Σx, Σx², Σx³, Σx⁴ over the whole-valued
    * quantity column) so the aggregation itself is order-independent and
    * BIGINT-exact — the only doubles are derived per-group scalars whose
    * expression trees are written identically on both engines (IEEE
    * +,-,*,/,sqrt are correctly rounded everywhere; no libm
    * transcendentals). Built-in skewness/kurtosis differ between engines
    * (population vs sample bias correction), which is exactly why the
    * moment formulas are spelled out. Scale shape: ONE hash aggregate
    * with map-side partial sums — a single shuffle of 5 longs per group
    * regardless of corpus size.
    */
  def q47Moments(s: SparkSession, d: String): DataFrame = {
    val x = $"l_quantity".cast("long")
    val n = $"n".cast("double")
    val mean = $"mean"
    li(s, d)
      .select($"l_returnflag", x.as("x"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("s1"),
        sum($"x" * $"x").as("s2"),
        sum($"x" * $"x" * $"x").as("s3"),
        sum($"x" * $"x" * $"x" * $"x").as("s4"))
      .withColumn("mean", $"s1".cast("double") / n)
      .withColumn("m2", $"s2".cast("double") / n - mean * mean)
      .withColumn("m3",
        $"s3".cast("double") / n - lit(3.0) * mean * ($"s2".cast("double") / n)
          + lit(2.0) * mean * mean * mean)
      .withColumn("m4",
        $"s4".cast("double") / n - lit(4.0) * mean * ($"s3".cast("double") / n)
          + lit(6.0) * mean * mean * ($"s2".cast("double") / n)
          - lit(3.0) * mean * mean * mean * mean)
      .select($"l_returnflag", $"n", $"s1", $"s2", $"s3", $"s4", mean,
        $"m2".as("var_pop"),
        ($"m3" / ($"m2" * sqrt($"m2"))).as("skew_pop"),
        ($"m4" / ($"m2" * $"m2") - lit(3.0)).as("kurt_pop"))
      .orderBy("l_returnflag")
  }
  val q47Sql: String =
    """WITH x AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x FROM lineitem),
      |p AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s1,
      |    CAST(SUM(x*x) AS BIGINT) AS s2,
      |    CAST(SUM(x*x*x) AS BIGINT) AS s3,
      |    CAST(SUM(x*x*x*x) AS BIGINT) AS s4
      |  FROM x GROUP BY l_returnflag),
      |m1 AS (
      |  SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean FROM p),
      |mm AS (
      |  SELECT *,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mean * mean AS m2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - 3.0 * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
      |      + 2.0 * mean * mean * mean AS m3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
      |      - 4.0 * mean * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
      |      + 6.0 * mean * mean * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
      |      - 3.0 * mean * mean * mean * mean AS m4
      |  FROM m1)
      |SELECT l_returnflag, n, s1, s2, s3, s4, mean,
      |  m2 AS var_pop,
      |  m3 / (m2 * sqrt(m2)) AS skew_pop,
      |  m4 / (m2 * m2) - 3.0 AS kurt_pop
      |FROM mm ORDER BY l_returnflag""".stripMargin

  /** Conditional / filtered aggregation (Q7 breadth): FILTER-clause
    * equivalents (count/min over a predicate), boolean aggregates
    * (bool_and/bool_or), and bitwise aggregates (bit_and/or/xor) in one
    * grouped pass. Every output is integer- or boolean-exact. Scale
    * shape: one hash aggregate, all measures map-side combinable.
    */
  def q48FilteredAgg(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        count(when($"o_totalprice" > 150000.0, 1)).as("n_big"),
        count(when($"o_orderpriority" === "1-URGENT", 1)).as("n_urgent"),
        min(when($"o_orderpriority" === "1-URGENT", $"o_orderkey")).as("first_urgent_key"),
        expr("bool_and(o_totalprice > 0.0)").as("all_positive"),
        expr("bool_or(o_custkey % 1000 = 0)").as("any_round_cust"),
        expr("bit_and(o_custkey)").as("cust_bit_and"),
        expr("bit_or(o_custkey)").as("cust_bit_or"),
        expr("bit_xor(o_custkey)").as("cust_bit_xor"))
      .orderBy("o_orderstatus")
  val q48Sql: String =
    """SELECT o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  COUNT(*) FILTER (WHERE o_totalprice > 150000.0) AS n_big,
      |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
      |  MIN(o_orderkey) FILTER (WHERE o_orderpriority = '1-URGENT') AS first_urgent_key,
      |  bool_and(o_totalprice > 0.0) AS all_positive,
      |  bool_or(o_custkey % 1000 = 0) AS any_round_cust,
      |  bit_and(o_custkey) AS cust_bit_and,
      |  bit_or(o_custkey) AS cust_bit_or,
      |  bit_xor(o_custkey) AS cust_bit_xor
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Ordered string aggregation (Q14 breadth): listagg/string_agg
    * semantics expressed portably as sort-then-join over a collected
    * list, ascending and descending — deterministic because the sort key
    * is the aggregated value itself (Spark 4's listagg maps 1:1 but
    * collect_list+array_sort keeps the plan codegen-friendly and
    * engine-agnostic). Runs on the broadcast-joined nation x region dims.
    */
  def q49StringAgg(s: SparkSession, d: String): DataFrame =
    nat(s, d).join(broadcast(reg(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", array_sort(collect_list($"n_name"))).as("nations_csv"),
        concat_ws("|",
          reverse(array_sort(collect_list(substring($"n_name", 1, 3)))))
          .as("prefixes_desc"))
      .orderBy("r_name")
  val q49Sql: String =
    """SELECT r_name,
      |  COUNT(*) AS n_nations,
      |  string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
      |  string_agg(substring(n_name, 1, 3), '|'
      |             ORDER BY substring(n_name, 1, 3) DESC) AS prefixes_desc
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Distribution histogram (Q7/Q13 composition): fixed-width numeric
    * binning with a broadcast grand total for basis-point shares — the
    * profile query every ingest pipeline runs before choosing partition
    * bounds. All measures are integer-exact (counts, whole-valued unit
    * sums, integer-division shares); the bucket edge is the only double
    * and is an exact product. Scale shape: one hash aggregate over ~21
    * buckets plus an O(1) broadcast total — no sort until the final
    * bucket-count-sized output.
    */
  def q50Histogram(s: SparkSession, d: String): DataFrame = {
    val b = li(s, d).select(
      floor($"l_extendedprice" / 5000.0).cast("long").as("bucket"),
      $"l_quantity".cast("long").as("qty"))
    val tot = b.agg(count(lit(1)).as("n_total"))
    b.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum($"qty").as("n_units"))
      .crossJoin(broadcast(tot))
      .select($"bucket", ($"bucket" * 5000.0).as("lo_price"),
        $"n_rows", $"n_units",
        expr("n_rows * 10000 div n_total").as("bp_share"))
      .orderBy("bucket")
  }
  val q50Sql: String =
    """WITH b AS (
      |  SELECT CAST(floor(l_extendedprice / 5000.0) AS BIGINT) AS bucket,
      |         CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem),
      |t AS (SELECT COUNT(*) AS n_total FROM b),
      |g AS (
      |  SELECT bucket, COUNT(*) AS n_rows, CAST(SUM(qty) AS BIGINT) AS n_units
      |  FROM b GROUP BY bucket)
      |SELECT bucket, bucket * 5000.0 AS lo_price, n_rows, n_units,
      |  n_rows * 10000 // n_total AS bp_share
      |FROM g CROSS JOIN t ORDER BY bucket""".stripMargin

  /** Bag-semantics set operations (Q12 completion next to q15's
    * distinct forms): INTERSECT ALL keeps min(m, n) copies per value,
    * EXCEPT ALL keeps m - n — multiplicity is the semantics, so the
    * output aggregates copies per (tag, key) to a count. Spark plans
    * both as a replicated-count aggregate + join (no row explosion);
    * one shuffle each at any scale.
    */
  def q51SetOpsAll(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    def yr(y: Int) = o.where(year($"o_orderdate") === y).select($"o_custkey")
    val interAll = yr(1996).intersectAll(yr(1997)).withColumn("tag", lit("inter_all"))
    val exceptAll = yr(1996).exceptAll(yr(1997)).withColumn("tag", lit("except_all"))
    interAll.unionByName(exceptAll)
      .groupBy($"tag", $"o_custkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("tag", "o_custkey")
  }
  val q51Sql: String =
    """WITH y96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
      |     y97 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |ia AS (SELECT o_custkey FROM y96 INTERSECT ALL SELECT o_custkey FROM y97),
      |ea AS (SELECT o_custkey FROM y96 EXCEPT ALL SELECT o_custkey FROM y97)
      |SELECT tag, o_custkey, n FROM (
      |  SELECT 'inter_all' AS tag, o_custkey, COUNT(*) AS n FROM ia GROUP BY o_custkey
      |  UNION ALL
      |  SELECT 'except_all' AS tag, o_custkey, COUNT(*) AS n FROM ea GROUP BY o_custkey)
      |ORDER BY tag, o_custkey""".stripMargin

  /** Per-row outlier detection (the q47 moments JOINED BACK to rows —
    * the other half of profiling): each lineitem's quantity is z-scored
    * against its return-flag group using exact integer power sums, and
    * rows beyond 1.5 population standard deviations are flagged. The
    * variance comes from the same BIGINT sums as q47, and the per-row
    * verdict is the engine-exact cross-multiplied comparison
    * `4(n·x − s1)² > 9(n·s2 − s1²)` — integers only, no sqrt, no
    * division, so the boolean is bit-identical on any engine. Scale
    * shape: one tiny grouped aggregate BROADCAST back over the row
    * scan; everything else is row-local.
    */
  def q52Outliers(s: SparkSession, d: String): DataFrame = {
    val x = li(s, d).select($"l_orderkey", $"l_linenumber", $"l_returnflag",
      $"l_quantity".cast("long").as("x"))
    val stats = x.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"),
        sum($"x" * $"x").as("s2"))
    // mean = s1/n, var = (n*s2 - s1^2)/n^2, so |x - mean| > (3/2)*sigma
    // <=> (n*x - s1)^2/n^2 > (9/4)*(n*s2 - s1^2)/n^2
    // <=> 4*(n*x - s1)^2 > 9*(n*s2 - s1^2)   — BIGINT-safe at the test SFs.
    x.join(broadcast(stats), Seq("l_returnflag"))
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"x",
        (($"n" * $"x" - $"s1") * ($"n" * $"x" - $"s1") * 4 >
          ($"n" * $"s2" - $"s1" * $"s1") * 9).as("is_outlier"))
      .where($"is_outlier")
      .orderBy("l_orderkey", "l_linenumber")
  }
  val q52Sql: String =
    """WITH x AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS x
      |  FROM lineitem),
      |st AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x*x) AS BIGINT) AS s2
      |  FROM x GROUP BY l_returnflag)
      |SELECT l_orderkey, l_linenumber, l_returnflag, x,
      |  (n*x - s1) * (n*x - s1) * 4 > (n*s2 - s1*s1) * 9 AS is_outlier
      |FROM x JOIN st USING (l_returnflag)
      |WHERE (n*x - s1) * (n*x - s1) * 4 > (n*s2 - s1*s1) * 9
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Arg-max aggregation (the max_by/min_by family): per customer, the
    * orderkey of their most expensive order. Tie-breaking is the classic
    * nondeterminism trap of arg_max — both engines pick an ARBITRARY row
    * among ties — so the ordering key embeds the orderkey itself:
    * `cents(o_totalprice) * 10^8 + o_orderkey` is a single BIGINT that is
    * unique per row, making the winner engine-exact (highest price, then
    * highest orderkey). Cents come from `floor(p*100 + 0.5)` — the
    * engine-portable round. Scale shape: one map-side-combining hash agg,
    * one shuffle over the group key; max_by carries (key, value) partials
    * so it is exactly as cheap as max.
    */
  def q53ArgMax(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).select($"o_custkey", $"o_orderkey",
      (floor($"o_totalprice" * 100 + 0.5).cast("long") * 100000000L +
        $"o_orderkey").as("ordkey"),
      $"o_totalprice")
    o.groupBy($"o_custkey")
      .agg(expr("max_by(o_orderkey, ordkey)").as("top_orderkey"),
        expr("min_by(o_orderkey, ordkey)").as("bottom_orderkey"),
        max($"ordkey").as("k"))
      .select($"o_custkey", $"top_orderkey", $"bottom_orderkey",
        (($"k" - pmod($"k", lit(100000000L))) / 100000000L).cast("double")
          .divide(100.0).as("top_price"))
      .orderBy("o_custkey")
  }
  val q53Sql: String =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 100000000
      |      + o_orderkey AS ordkey,
      |    o_totalprice
      |  FROM orders)
      |SELECT o_custkey,
      |  arg_max(o_orderkey, ordkey) AS top_orderkey,
      |  arg_min(o_orderkey, ordkey) AS bottom_orderkey,
      |  CAST((max(ordkey) - max(ordkey) % 100000000) / 100000000 AS DOUBLE)
      |    / 100.0 AS top_price
      |FROM o GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Bivariate co-movement (the covariance/correlation family) with exact
    * integer arithmetic: does lineitem quantity co-vary with ship month,
    * per return flag? The three second-moment numerators
    * `n·Σxy − ΣxΣy`, `n·Σx² − (Σx)²`, `n·Σy² − (Σy)²` are n² times
    * covariance/variance — BIGINT-exact and order-independent, so the
    * correlation SIGN (and any threshold test, cross-multiplied) is
    * bit-identical on any engine without ever computing a float. Scale
    * shape: one map-side-combining pass, five sums; the float division
    * r = cov/√(varx·vary) is deliberately left to the consumer.
    */
  def q54Comovement(s: SparkSession, d: String): DataFrame = {
    val x = li(s, d).select($"l_returnflag",
      $"l_quantity".cast("long").as("x"),
      month($"l_shipdate").cast("long").as("y"))
    x.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
      .select($"l_returnflag", $"n",
        ($"n" * $"sxy" - $"sx" * $"sy").as("cov_num"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("varx_num"),
        ($"n" * $"syy" - $"sy" * $"sy").as("vary_num"),
        ($"n" * $"sxy" - $"sx" * $"sy" > 0).as("positively_correlated"))
      .orderBy("l_returnflag")
  }
  val q54Sql: String =
    """WITH x AS (
      |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
      |    CAST(month(l_shipdate) AS BIGINT) AS y
      |  FROM lineitem),
      |st AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
      |    CAST(SUM(y*y) AS BIGINT) AS syy
      |  FROM x GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  n*sxy - sx*sy AS cov_num,
      |  n*sxx - sx*sx AS varx_num,
      |  n*syy - sy*sy AS vary_num,
      |  n*sxy - sx*sy > 0 AS positively_correlated
      |FROM st ORDER BY l_returnflag""".stripMargin

  /** Date-spine gap fill (the calendar dimension generated from nothing):
    * every day of 1995 with its order count, INCLUDING zero-order days —
    * the rows a plain GROUP BY can never produce. The spine is a
    * `sequence(date, date, interval 1 day)` explode (365 rows regardless
    * of fact size), left-joined to the per-day aggregate. Scale shape:
    * aggregate first (365 result rows at any corpus size), then join the
    * tiny spine BROADCAST against it — the fact table is touched exactly
    * once, and both join sides are O(days), never O(rows). The BROADCAST
    * lands on the aggregate (the right side of the left join — Spark
    * cannot broadcast the preserved side), which is also the side whose
    * size is corpus-independent by construction.
    */
  def q55DateSpine(s: SparkSession, d: String): DataFrame = {
    val perDay = ord(s, d)
      .where($"o_orderdate" >= lit("1995-01-01").cast("timestamp_ntz") &&
        $"o_orderdate" < lit("1996-01-01").cast("timestamp_ntz"))
      .groupBy($"o_orderdate".cast("date").as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val spine = s.range(1).select(explode(expr(
      "sequence(date'1995-01-01', date'1995-12-31', interval 1 day)")).as("d"))
    spine.join(broadcast(perDay), Seq("d"), "left")
      .select($"d", coalesce($"n_orders", lit(0L)).as("n_orders"))
      .orderBy("d")
  }
  val q55Sql: String =
    """WITH spine AS (
      |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
      |    DATE '1995-12-31', INTERVAL 1 DAY)) AS DATE) AS d),
      |per_day AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      |    AND o_orderdate < TIMESTAMP '1996-01-01'
      |  GROUP BY 1)
      |SELECT spine.d, COALESCE(n_orders, 0) AS n_orders
      |FROM spine LEFT JOIN per_day ON spine.d = per_day.d
      |ORDER BY spine.d""".stripMargin

  /** Market-basket pair co-occurrence (the self-join pair-mining shape):
    * which part pairs appear together in the same order at least twice?
    * The self equi-join on l_orderkey is CO-PARTITIONED — both sides
    * shuffle on the same key, so every pair is formed locally within an
    * order's partition — and the `<` on partkey halves the pair space
    * and canonicalizes orientation. Per-order fan-out is C(lines, 2),
    * bounded by the 7-line order cap, so the blow-up is a constant
    * factor at any corpus size; the pair count then map-side-combines.
    * (l43's PMI is this same shape at word granularity — this is the
    * order-level original.)
    */
  def q56BasketPairs(s: SparkSession, d: String): DataFrame = {
    // Distinct (order, part) FIRST: a part listed twice in one order
    // would otherwise double-form its pairs and force the pair count to
    // be a two-phase COUNT DISTINCT; de-duplicated input makes each
    // (order, pair) unique by construction, so the count is a plain
    // map-side-combining agg — cheaper at every scale.
    // One exchange serves everything keyed by order: hash-repartition by
    // l_orderkey BEFORE the distinct — HashPartitioning(l_orderkey)
    // satisfies the distinct's (l_orderkey, l_partkey) clustering AND
    // both sides of the self-join, so the join runs co-partitioned with
    // zero further shuffles (previously: distinct shuffled by the pair
    // key, then BOTH join inputs re-shuffled by l_orderkey — three
    // full exchanges of the projection where one suffices).
    val x = li(s, d).select($"l_orderkey", $"l_partkey")
      .repartition($"l_orderkey").distinct()
    x.as("a").join(x.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"), col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
      .where($"n_orders" >= 2)
      .orderBy("part_a", "part_b")
  }
  val q56Sql: String =
    """SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |  COUNT(DISTINCT a.l_orderkey) AS n_orders
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2
      |ORDER BY part_a, part_b""".stripMargin

  /** Interpolated (continuous) grouped percentiles — the companion to
    * q28's discrete definition: `percentile` in Spark and
    * `quantile_cont` in DuckDB both implement type R-7 (rank
    * `(n−1)·p`, linear interpolation). Engine-exactness is by
    * construction: p ∈ {.25, .5, .75} makes the fractional rank dyadic,
    * and the data is BIGINT quantity, so both `(1−f)a + fb` and
    * `a + f(b−a)` are exact double arithmetic — bit-identical however
    * each engine associates the formula. Scale shape: Spark's
    * percentile aggregates per group with map-side partials; for
    * wide-value domains q40's sketch is the scale path, this is the
    * exact one.
    */
  def q57PercentileCont(s: SparkSession, d: String): DataFrame =
    li(s, d).select($"l_returnflag", $"l_quantity".cast("long").as("x"))
      .groupBy($"l_returnflag")
      .agg(expr("percentile(x, array(0.25D, 0.5D, 0.75D))").as("qs"))
      .select($"l_returnflag", $"qs".getItem(0).as("p25"),
        $"qs".getItem(1).as("p50"), $"qs".getItem(2).as("p75"))
      .orderBy("l_returnflag")
  val q57Sql: String =
    """SELECT l_returnflag,
      |  quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS p25,
      |  quantile_cont(CAST(l_quantity AS BIGINT), 0.50) AS p50,
      |  quantile_cont(CAST(l_quantity AS BIGINT), 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Trailing DISTINCT-count window — the classic hard window function:
    * distinct users seen per event type over the trailing hour, exact.
    * Spark has no `count(DISTINCT) OVER`, so the frame's set is carried
    * explicitly (`size(collect_set(...))` over the RANGE frame), which
    * IS the honest cost of the exact semantics: O(frame distinct) state
    * per row on both engines (DuckDB's windowed `count(DISTINCT)` does
    * the same internally). The partition key is the event type by
    * semantic necessity — at 100 TB, where a single type's timeline
    * outgrows one task, the scale path is q25's HLL sketch per
    * (type, hour-bucket) merged across buckets, trading exactness for
    * mergeability; this query is the exact reference for that sketch,
    * and q69 materializes it (per-bucket deterministic HLL registers
    * merged across the trailing hour, exact side emitted alongside).
    * Tie semantics: RANGE on epoch seconds is tie-inclusive (the q37
    * discipline), so second-collisions are deterministic.
    */
  def q58DistinctWindow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .withColumn("tsec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
    val w = Window.partitionBy($"event_type").orderBy($"tsec")
      .rangeBetween(-3600L, Window.currentRow)
    ev.select($"event_id", $"event_type", $"tsec",
        size(collect_set($"user_id").over(w)).cast("long").as("u_1h"))
      .where($"event_id" % 25 === 0)
      .orderBy("event_id")
  }
  val q58Sql: String =
    """SELECT event_id, event_type, tsec, u_1h FROM (
      |  SELECT event_id, event_type, epoch_us(ts) // 1000000 AS tsec,
      |    COUNT(DISTINCT user_id) OVER (PARTITION BY event_type
      |      ORDER BY epoch_us(ts) // 1000000
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS u_1h
      |  FROM events)
      |WHERE event_id % 25 = 0 ORDER BY event_id""".stripMargin

  /** Interval-overlap join — each event spawns a usage interval
    * [ts, ts + value minutes]; report every (view, click) interval pair
    * that overlaps, with the exact overlap in seconds. The naive form is
    * an inequality θ-join (`a.s <= b.e AND b.s <= a.e`) that plans as a
    * nested loop — quadratic at any scale. The scale formulation here is
    * the classic BUCKETIZED interval join: each interval explodes into
    * the hour buckets it covers (tiny arrays — duration/1h + 1 rows),
    * the two sides equi-join on the bucket (a hash shuffle join, AQE-
    * skew-splittable), the overlap predicate filters, and each
    * surviving pair is emitted exactly ONCE by keeping only the bucket
    * that contains the overlap's start (`bucket = greatest(a_s, b_s)
    * div 1h`) — no DISTINCT pass. All arithmetic is BIGINT micros
    * (`unix_micros` ↔ `epoch_us`; duration floors identically from the
    * same IEEE double product), so every cell is engine-exact. The
    * oracle states the naive θ-join; the driver's cell-compare proves
    * the bucketized decomposition returns the identical pair set.
    */
  def q59IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val H = 3600000000L // 1 hour in micros
    val iv = Tables.load(s, d, "events")
      .select($"event_id", $"event_type",
        expr("unix_micros(cast(ts as timestamp))").as("s_us"),
        (expr("unix_micros(cast(ts as timestamp))") +
          floor($"value" * lit(60000000.0d)).cast("long")).as("e_us"))
      .withColumn("bucket",
        explode(sequence(expr(s"s_us div ${H}L"), expr(s"e_us div ${H}L"))))
    val a = iv.where($"event_type" === "view")
      .select($"bucket", $"event_id".as("view_id"), $"s_us".as("a_s"), $"e_us".as("a_e"))
    val b = iv.where($"event_type" === "click")
      .select($"bucket", $"event_id".as("click_id"), $"s_us".as("b_s"), $"e_us".as("b_e"))
    a.join(b, Seq("bucket"))
      .where($"a_s" <= $"b_e" && $"b_s" <= $"a_e" &&
        $"bucket" === expr(s"greatest(a_s, b_s) div ${H}L"))
      .select($"view_id", $"click_id",
        expr("(least(a_e, b_e) - greatest(a_s, b_s)) div 1000000").as("overlap_sec"))
      .orderBy("view_id", "click_id")
  }
  val q59Sql: String =
    """WITH iv AS (
      |  SELECT event_id, event_type, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e_us
      |  FROM events),
      |a AS (SELECT event_id AS view_id, s_us AS a_s, e_us AS a_e
      |      FROM iv WHERE event_type = 'view'),
      |b AS (SELECT event_id AS click_id, s_us AS b_s, e_us AS b_e
      |      FROM iv WHERE event_type = 'click')
      |SELECT view_id, click_id,
      |  (least(a_e, b_e) - greatest(a_s, b_s)) // 1000000 AS overlap_sec
      |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
      |ORDER BY view_id, click_id""".stripMargin

  /** Time-weighted average over an irregular series (TWAP) — the
    * step-function aggregate behind every irregular-tick VWAP/TWAP
    * report: each event's value holds until the type's next event, so
    * its weight is that duration, and the per-type average is
    * Σ(value·dur)/Σ(dur). All integer-exact: values quantize once to
    * cents (`floor(v·100+0.5)` — exact in double), durations are
    * epoch-second deltas from a `lead` window ordered by the TOTAL order
    * (tsec, event_id) — second collisions exist in this data, and an
    * underspecified ORDER BY is the classic nondeterminism trap here —
    * and the average is a BIGINT `div`. Scale shape: one window and one
    * hash agg, both keyed by event type; nothing global. The weighted
    * sum stays in range by weighting with SECONDS (v_cents·dur_s ≤
    * ~7·10¹⁰ per segment), not micros.
    */
  def q60TimeWeighted(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .select($"event_type", $"event_id",
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("tsec"),
        floor($"value" * 100 + 0.5).cast("long").as("v_cents"))
    val w = Window.partitionBy($"event_type").orderBy($"tsec", $"event_id")
    ev.withColumn("dur_s", lead($"tsec", 1).over(w) - $"tsec")
      .where($"dur_s".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_segments"),
        sum($"dur_s").as("total_dur_s"),
        sum($"v_cents" * $"dur_s").as("weighted_sum"),
        expr("sum(v_cents * dur_s) div sum(dur_s)").as("twap_cents"))
      .orderBy("event_type")
  }
  val q60Sql: String =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) // 1000000 AS tsec,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      |  FROM events),
      |seg AS (
      |  SELECT event_type, v_cents,
      |    lead(tsec) OVER (PARTITION BY event_type
      |      ORDER BY tsec, event_id) - tsec AS dur_s
      |  FROM e)
      |SELECT event_type, COUNT(*) AS n_segments,
      |  CAST(SUM(dur_s) AS BIGINT) AS total_dur_s,
      |  CAST(SUM(v_cents * dur_s) AS BIGINT) AS weighted_sum,
      |  CAST(SUM(v_cents * dur_s) AS BIGINT) // CAST(SUM(dur_s) AS BIGINT)
      |    AS twap_cents
      |FROM seg WHERE dur_s IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Ordered funnel analysis — the sequenced-event report (first view →
    * first click AFTER it → first purchase AFTER that) that plain
    * conditional aggregation cannot express, because each stage's
    * timestamp constrains the next stage's candidate set. Three grouped
    * min-passes, each keyed by user and each consuming the previous
    * stage's time bound through an equi-join — the standard scalable
    * funnel shape (MATCH_RECOGNIZE semantics as joins; never a per-user
    * sort on one task). The six outputs (stage populations + total
    * stage-transition seconds) are O(1)-row aggregates combined by
    * 1-row cross joins; every cell is BIGINT.
    */
  def q61Funnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.load(s, d, "events")
      .select($"user_id", $"event_type",
        expr("unix_micros(cast(ts as timestamp)) div 1000000").as("tsec"))
      // consumed four times (stage filters + user count)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val v = e.where($"event_type" === "view")
      .groupBy("user_id").agg(min("tsec").as("t_view"))
    val c = e.join(v, Seq("user_id"))
      .where($"event_type" === "click" && $"tsec" > $"t_view")
      .groupBy("user_id").agg(min("tsec").as("t_click"))
    val p = e.join(c, Seq("user_id"))
      .where($"event_type" === "purchase" && $"tsec" > $"t_click")
      .groupBy("user_id").agg(min("tsec").as("t_purchase"))
    e.agg(countDistinct("user_id").as("n_users"))
      .crossJoin(v.agg(count(lit(1)).as("n_view")))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .crossJoin(c.join(v, Seq("user_id"))
        .agg(sum($"t_click" - $"t_view").as("view_to_click_s")))
      .crossJoin(p.join(c, Seq("user_id"))
        .agg(sum($"t_purchase" - $"t_click").as("click_to_purchase_s")))
  }
  val q61Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS tsec FROM events),
      |v AS (SELECT user_id, MIN(tsec) AS t_view FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(tsec) AS t_click
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND tsec > t_view GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(tsec) AS t_purchase
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND tsec > t_click GROUP BY e.user_id)
      |SELECT
      |  (SELECT COUNT(DISTINCT user_id) FROM e) AS n_users,
      |  (SELECT COUNT(*) FROM v) AS n_view,
      |  (SELECT COUNT(*) FROM c) AS n_click,
      |  (SELECT COUNT(*) FROM p) AS n_purchase,
      |  (SELECT CAST(SUM(t_click - t_view) AS BIGINT)
      |     FROM c JOIN v USING (user_id)) AS view_to_click_s,
      |  (SELECT CAST(SUM(t_purchase - t_click) AS BIGINT)
      |     FROM p JOIN c USING (user_id)) AS click_to_purchase_s""".stripMargin

  /** Cohort retention — the day-N activity matrix every growth report
    * ships: users grouped by first-seen day (their cohort), counted
    * distinct on each subsequent day offset. Two hash aggs and one
    * equi-join, all keyed by user or (cohort, offset); the output is
    * |cohorts|×|offsets| regardless of event volume. Day arithmetic is
    * integer epoch-day division on both engines.
    */
  def q62Cohort(s: SparkSession, d: String): DataFrame = {
    val e = Tables.load(s, d, "events")
      .select($"user_id",
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
    val cohort = e.groupBy("user_id").agg(min("day").as("c_day"))
    e.join(cohort, Seq("user_id"))
      .select($"c_day", ($"day" - $"c_day").as("offset_d"), $"user_id")
      .distinct()
      .groupBy("c_day", "offset_d")
      .agg(count(lit(1)).as("n_active"))
      .where($"offset_d" <= 7)
      .orderBy("c_day", "offset_d")
  }
  val q62Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |cohort AS (SELECT user_id, MIN(day) AS c_day FROM e GROUP BY user_id),
      |act AS (
      |  SELECT DISTINCT c.c_day, e.day - c.c_day AS offset_d, e.user_id
      |  FROM e JOIN cohort c USING (user_id))
      |SELECT c_day, offset_d, COUNT(*) AS n_active
      |FROM act GROUP BY c_day, offset_d
      |HAVING offset_d <= 7
      |ORDER BY c_day, offset_d""".stripMargin

  /** ABC / Pareto classification — the cumulative-share segmentation
    * every inventory/revenue report ships: per brand, rank parts by
    * exact revenue, take the running revenue share, and classify A
    * (first 80% of brand revenue), B (to 95%), C (tail). Revenue
    * quantizes per LINE ITEM (`floor(x·100+0.5)` — one IEEE product +
    * floor, identical on both engines; a double → DECIMAL cast here
    * hits the engines' different rounding modes, which a one-cent
    * divergence in this query's exact output exposed), then everything
    * is an order-independent BIGINT sum. The running sum is a window
    * PARTITIONED by brand
    * under the total order (revenue desc, partkey), and the class
    * thresholds are divisionless cross-multiplies
    * (`cum·100 <= total·80`) — engine-exact end to end. Scale shape:
    * one join-agg for revenue, one brand-keyed window, one broadcastable
    * |brands|-row totals join.
    */
  def q63AbcClass(s: SparkSession, d: String): DataFrame = {
    val rev = li(s, d).join(part(s, d), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand".as("brand"), $"l_partkey".as("partkey"))
      .agg(sum(floor($"l_extendedprice" * (lit(1.0) - $"l_discount") * 100 + 0.5)
        .cast("long")).as("rev_cents"))
    val tot = rev.groupBy("brand").agg(sum("rev_cents").as("tot_cents"))
    val w = Window.partitionBy($"brand").orderBy($"rev_cents".desc, $"partkey")
    rev.withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_cents",
        sum($"rev_cents").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(tot), Seq("brand"))
      .select($"brand", $"partkey", $"rev_cents", $"rnk", $"cum_cents",
        when($"cum_cents" * 100 <= $"tot_cents" * 80, "A")
          .when($"cum_cents" * 100 <= $"tot_cents" * 95, "B")
          .otherwise("C").as("abc"))
      .where($"partkey" % 10 === 0)
      .orderBy("brand", "rnk")
  }
  val q63Sql: String =
    """WITH rev AS (
      |  SELECT p.p_brand AS brand, l.l_partkey AS partkey,
      |    CAST(SUM(CAST(floor(l.l_extendedprice * (1.0 - l.l_discount) * 100
      |      + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY 1, 2),
      |tot AS (SELECT brand, CAST(SUM(rev_cents) AS BIGINT) AS tot_cents
      |        FROM rev GROUP BY brand),
      |ranked AS (
      |  SELECT brand, partkey, rev_cents,
      |    CAST(row_number() OVER w AS BIGINT) AS rnk,
      |    CAST(SUM(rev_cents) OVER (PARTITION BY brand
      |      ORDER BY rev_cents DESC, partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
      |  FROM rev WINDOW w AS (PARTITION BY brand ORDER BY rev_cents DESC, partkey))
      |SELECT brand, partkey, rev_cents, rnk, cum_cents,
      |  CASE WHEN cum_cents * 100 <= tot_cents * 80 THEN 'A'
      |       WHEN cum_cents * 100 <= tot_cents * 95 THEN 'B' ELSE 'C' END AS abc
      |FROM ranked JOIN tot USING (brand)
      |WHERE partkey % 10 = 0
      |ORDER BY brand, rnk""".stripMargin

  /** Equi-DEPTH histogram — q50's fixed-width companion and the
    * partition-bounds profile a range-partitioner or Z-order writer
    * actually wants: per order-priority group, decile buckets holding
    * ~n/10 rows each, with exact cent-quantized value bounds. Bucket
    * assignment is `(rn−1)·10 div n` under the total order
    * (price_cents, orderkey) — rank-based, so duplicate values and
    * IEEE representation never move a row across engines — and every
    * window is PARTITIONED by the group (the q28 discipline: grouped
    * quantiles never pay a global sort). Scale shape: one partitioned
    * rank window + one hash agg; output is |groups|×10 rows at any
    * fact volume.
    */
  def q64EquiDepth(s: SparkSession, d: String): DataFrame = {
    val base = ord(s, d).select($"o_orderpriority",
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"), $"o_orderkey")
    val w = Window.partitionBy($"o_orderpriority").orderBy($"cents", $"o_orderkey")
    val wn = Window.partitionBy($"o_orderpriority")
    base
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .select($"o_orderpriority",
        expr("(rn - 1) * 10 div n").as("decile"), $"cents")
      .groupBy($"o_orderpriority", $"decile")
      .agg(count(lit(1)).as("n_rows"),
        min($"cents").as("lo_cents"), max($"cents").as("hi_cents"))
      .orderBy("o_orderpriority", "decile")
  }
  val q64Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, o_orderkey
      |  FROM orders),
      |ranked AS (
      |  SELECT o_orderpriority, cents,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM base)
      |SELECT o_orderpriority, (rn - 1) * 10 // n AS decile,
      |  COUNT(*) AS n_rows, MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
      |FROM ranked GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MAD robust outliers — q52's z-score flags drown when the outliers
    * themselves inflate σ; the robust version centers on the MEDIAN and
    * scales by the median absolute deviation, both taken as q28's exact
    * discrete ceil(n/2) rank statistic over cent-quantized BIGINTs, so
    * the whole query is engine-exact with no moment arithmetic at all.
    * The outlier rule is the divisionless cross-multiply
    * `|x − med| > 3·mad` (the classic ±3 MAD fence without the 1.4826
    * normal-consistency float). Scale shape: two group-partitioned rank
    * windows (median, then MAD — the second necessarily re-ranks the
    * deviations), two |groups|-row broadcasts back over the scan, one
    * final hash agg; output is |groups| rows at any fact volume.
    */
  def q65MadOutliers(s: SparkSession, d: String): DataFrame = {
    // Single-exchange formulation: every step — both median ranks, both
    // group medians, the deviation, and the final per-priority agg — is
    // keyed by o_orderpriority, so ONE hash partitioning up front serves
    // the whole chain. The group medians attach as unbounded-frame window
    // aggregates over the SAME partitioning instead of groupBy +
    // broadcast-join round-trips (previously: orders was scanned three
    // times and the chain paid two window exchanges plus two
    // broadcast-joins; now one scan, one exchange, local sorts only).
    // Expressions are unchanged step-for-step, so values match the
    // oracle bit-exactly.
    val base = ord(s, d).select($"o_orderpriority",
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"), $"o_orderkey")
    val wp = Window.partitionBy($"o_orderpriority")
    val w1 = wp.orderBy($"cents", $"o_orderkey")
    val withMed = base
      .withColumn("rn", row_number().over(w1).cast("long"))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("med_cents",
        min(when($"rn" === ceil($"n" * 0.5), $"cents")).over(wp))
      .withColumn("dev", abs($"cents" - $"med_cents"))
    val w2 = wp.orderBy($"dev", $"o_orderkey")
    withMed
      .withColumn("rn2", row_number().over(w2).cast("long"))
      .withColumn("mad_cents",
        min(when($"rn2" === ceil($"n" * 0.5), $"dev")).over(wp))
      .groupBy($"o_orderpriority")
      .agg(first($"med_cents").as("med_cents"), first($"mad_cents").as("mad_cents"),
        count(lit(1)).as("n"),
        sum(when($"dev" > $"mad_cents" * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("o_orderpriority")
  }
  val q65Sql: String =
    """WITH base AS (
      |  SELECT o_orderpriority,
      |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents, o_orderkey
      |  FROM orders),
      |r1 AS (
      |  SELECT o_orderpriority, cents, o_orderkey,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM base),
      |med AS (
      |  SELECT o_orderpriority,
      |    MIN(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN cents END) AS med_cents
      |  FROM r1 GROUP BY o_orderpriority),
      |devs AS (
      |  SELECT b.o_orderpriority, b.cents, b.o_orderkey,
      |    abs(b.cents - m.med_cents) AS dev, m.med_cents
      |  FROM base b JOIN med m USING (o_orderpriority)),
      |r2 AS (
      |  SELECT o_orderpriority, dev,
      |    CAST(row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY dev, o_orderkey) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM devs),
      |mad AS (
      |  SELECT o_orderpriority,
      |    MIN(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN dev END) AS mad_cents
      |  FROM r2 GROUP BY o_orderpriority)
      |SELECT d.o_orderpriority,
      |  CAST(MIN(d.med_cents) AS BIGINT) AS med_cents,
      |  CAST(MIN(a.mad_cents) AS BIGINT) AS mad_cents,
      |  COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN d.dev > a.mad_cents * 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM devs d JOIN mad a USING (o_orderpriority)
      |GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority""".stripMargin

  /** q66: top-3 line items per supplier by revenue — through the CUSTOM
    * physical operator [[graft.plans.TopKPerKeyExec]] instead of the
    * rank-window formulation (which IS the DuckDB oracle, so the
    * cell-compare proves the operator exact). The window version sorts
    * every row of every supplier group and shuffles all of them; the
    * operator keeps a 3-bounded heap per supplier with a PARTIAL pass
    * below the exchange, so the shuffle carries ≤ #partitions·#keys·3
    * rows — the hash-aggregate discipline applied to top-k. Revenue is
    * cents via the engine-portable `floor(x·100 + 0.5)`, and
    * (orderkey, linenumber) complete the total order so ties are exact.
    */
  /** q66's projected input and order spec, shared with the Prof
    * head-to-head so the window-vs-operator comparison is structurally
    * tied to the oracle-verified query (one copy of the cent
    * quantization and the tiebreak order).
    */
  def q66Base(s: SparkSession, d: String): DataFrame =
    li(s, d).select($"l_suppkey", $"l_orderkey", $"l_linenumber",
      floor($"l_extendedprice" * (lit(1) - $"l_discount") * 100 + 0.5)
        .cast("long").as("rev_cents"))
  val q66Order: Seq[(String, Boolean)] =
    Seq(("rev_cents", false), ("l_orderkey", true), ("l_linenumber", true))

  /** The rank-window formulation of q66 — what the custom operator
    * replaces; used only by the Prof comparison (the oracle states the
    * same formulation in SQL).
    */
  def q66Window(s: SparkSession, d: String, k: Int): DataFrame = {
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"rev_cents".desc, $"l_orderkey", $"l_linenumber")
    q66Base(s, d).withColumn("rn", row_number().over(w)).where($"rn" <= k)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"rev_cents")
  }

  def q66TopkCustom(s: SparkSession, d: String): DataFrame =
    graft.plans.TopK.perKey(q66Base(s, d), Seq("l_suppkey"), q66Order, k = 3)
      .orderBy($"l_suppkey", $"rev_cents".desc, $"l_orderkey", $"l_linenumber")
  val q66Sql: String =
    """WITH base AS (
      |  SELECT l_suppkey, l_orderkey, l_linenumber,
      |    CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
      |      AS rev_cents
      |  FROM lineitem),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_suppkey
      |    ORDER BY rev_cents DESC, l_orderkey, l_linenumber) AS rn
      |  FROM base)
      |SELECT l_suppkey, l_orderkey, l_linenumber, rev_cents
      |FROM r WHERE rn <= 3
      |ORDER BY l_suppkey, rev_cents DESC, l_orderkey, l_linenumber""".stripMargin

  /** q67: trailing-window exact MEDIAN — the robust companion to q37's
    * trailing sum/count and q65's batch MAD: per event type, the
    * interpolated (R-7) median of the event-load value over the
    * trailing hour. The percentile aggregate rides the same
    * tie-inclusive RANGE frame as q37 (second-collisions are
    * deterministic), values are small BIGINTs so every interpolation
    * is a dyadic half — exact in IEEE on both engines, the q57
    * discipline applied per frame. Scale shape: one window partitioned
    * by event type — the honest O(frame) percentile state per row;
    * at volumes where a type's timeline outgrows a task, the scale
    * path is q40's mergeable percentile_approx sketch per
    * (type, hour-bucket), for which this query is the exact reference.
    */
  def q67SlidingMedian(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .withColumn("tsec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
      .withColumn("load", ($"event_id" % 100).cast("long"))
    val w = Window.partitionBy($"event_type").orderBy($"tsec")
      .rangeBetween(-3600L, Window.currentRow)
    ev.select($"event_id", $"event_type", $"tsec",
        count(lit(1)).over(w).as("n_1h"),
        expr("percentile(load, 0.5D)").over(w).as("med_1h"))
      .where($"event_id" % 25 === 0)
      .orderBy("event_id")
  }
  val q67Sql: String =
    """SELECT event_id, event_type, tsec, n_1h, med_1h FROM (
      |  SELECT event_id, event_type, epoch_us(ts) // 1000000 AS tsec,
      |    COUNT(*) OVER (PARTITION BY event_type
      |      ORDER BY epoch_us(ts) // 1000000
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h,
      |    quantile_cont(CAST(event_id % 100 AS BIGINT), 0.5) OVER (
      |      PARTITION BY event_type ORDER BY epoch_us(ts) // 1000000
      |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS med_1h
      |  FROM events)
      |WHERE event_id % 25 = 0 ORDER BY event_id""".stripMargin

  /** q68: bucket-aligned sliding median via MERGEABLE HISTOGRAMS — the
    * scale path q67's docstring names, materialized. q67 carries the
    * honest O(frame) exact-percentile state per row (right at moderate
    * volume, wrong when one type's timeline outgrows a task); this
    * formulation carries O(bins) state instead: per (event_type,
    * 5-minute bucket) a value histogram (the load domain is the
    * integers 0..99, so bins ARE values and the median is EXACT — for
    * continuous domains the same plan holds with fixed-width bins and
    * the answer is within half a bin), merged across the trailing hour
    * by exploding each bucket's histogram into the <= 12 target buckets
    * it serves (bounded x12 expansion, equi-join against the real
    * bucket spine — no range join), then one cumulative pass over <= 100
    * rows per (type, bucket) extracts the lower median. Scale shape:
    * a map-side-combining histogram agg, a bounded explode, a keyed
    * agg, and windows over <= 100-row groups — thousands of small
    * partitions instead of one O(frame) state per row, and the
    * histogram table is exactly the mergeable artifact a streaming
    * fold would keep per watermarked window.
    *
    * Honest crossover accounting (measured, sf0.1): this fixture runs
    * ~2.6 events per (type, bucket) — BELOW one event per bin — so the
    * histogram compresses nothing (hist rows == event rows) and the
    * x12 window expansion makes this formulation ~3.2 s where q67's
    * exact frame (~31 rows) reads 2.5 s. The plans trade places when
    * density crosses the bin count: at 10⁶ events/hour/type the exact
    * window holds 10⁶-row state per row while this one still moves
    * 100 x 12 rows per (type, bucket). Both are kept, both priced.
    */
  def q68BucketMedian(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .withColumn("tsec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
      .select($"event_type", expr("tsec div 300").as("tb"),
        ($"event_id" % 100).cast("long").as("load"))
    val hist = ev.groupBy($"event_type", $"tb", $"load")
      .agg(count(lit(1)).as("c"))
    val buckets = hist.select($"event_type", $"tb").distinct()
    val contrib = hist.select($"event_type", $"load", $"c",
      explode(sequence($"tb", $"tb" + lit(11L))).as("tb"))
    // the spine is bounded by time-span/300 x types (a year is ~105k
    // rows) — broadcast it so the x12 contribution stream never shuffles
    // before its combining agg
    val merged = contrib.join(broadcast(buckets), Seq("event_type", "tb"))
      .groupBy($"event_type", $"tb", $"load").agg(sum($"c").as("c12"))
    val wc = Window.partitionBy($"event_type", $"tb").orderBy($"load")
    val wt = Window.partitionBy($"event_type", $"tb")
    merged
      .withColumn("cum", sum($"c12").over(wc))
      .withColumn("n_1h", sum($"c12").over(wt))
      .where($"cum" * 2 >= $"n_1h")
      .groupBy($"event_type", $"tb")
      .agg(max($"n_1h").as("n_1h"), min($"load").as("med_1h"))
      .orderBy($"event_type", $"tb")
  }
  val q68Sql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_us(ts) // 1000000 // 300 AS tb,
      |    CAST(event_id % 100 AS BIGINT) AS load
      |  FROM events),
      |hist AS (
      |  SELECT event_type, tb, load, COUNT(*) AS c
      |  FROM ev GROUP BY 1, 2, 3),
      |buckets AS (SELECT DISTINCT event_type, tb FROM hist),
      |contrib AS (
      |  SELECT event_type, load, c,
      |    unnest(generate_series(tb, tb + 11)) AS tb2
      |  FROM hist),
      |merged AS (
      |  SELECT co.event_type, co.tb2 AS tb, co.load,
      |    CAST(SUM(co.c) AS BIGINT) AS c12
      |  FROM contrib co JOIN buckets b
      |    ON co.event_type = b.event_type AND co.tb2 = b.tb
      |  GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT *,
      |    SUM(c12) OVER (PARTITION BY event_type, tb ORDER BY load) AS cum,
      |    SUM(c12) OVER (PARTITION BY event_type, tb) AS n_1h
      |  FROM merged)
      |SELECT event_type, tb,
      |  CAST(MAX(n_1h) AS BIGINT) AS n_1h,
      |  CAST(MIN(load) AS BIGINT) AS med_1h
      |FROM sc WHERE cum * 2 >= n_1h
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The 64 linear-counting estimates `round(64 * ln(64 / V))` for
    * V = 1..64 empty registers, baked as literals on BOTH engines: the
    * one step of the HLL estimator that needs a transcendental is
    * reduced to a 64-entry integer lookup, so q69 stays engine-exact
    * (libm implementations may differ in the last ulp; a frozen table
    * cannot).
    */
  private val HllLinearCounting: String =
    "266,222,196,177,163,151,142,133,126,119,113,107,102,97,93,89,85,81," +
      "78,74,71,68,65,63,60,58,55,53,51,48,46,44,42,40,39,37,35,33,32,30," +
      "28,27,25,24,23,21,20,18,17,16,15,13,12,11,10,9,7,6,5,4,3,2,1,0"

  /** Trailing-hour distinct users via MERGEABLE per-bucket HLL sketches
    * — q58's named scale path materialized, the q67→q68 discipline
    * applied to the distinct-count window. q58 carries the exact frame
    * set (`size(collect_set)` — O(frame-distinct) state per row, the
    * honest cost of exactness); here each (type, 5-min-bucket) keeps a
    * 64-register HLL sketch (register = max leading-zero rank of a
    * 60-bit md5-derived hash slice) and the trailing hour is the
    * register-wise MAX of 12 sketches — the q68 bounded ×12 explode +
    * broadcast spine equi-join, then one keyed agg. O(64) state per
    * bucket regardless of cardinality: exactly the artifact a streaming
    * fold keeps and a 100 TB timeline merges, where q58's per-row set
    * cannot. Everything is engine-exact by construction: the hash is
    * md5 (identical hex on both engines), register/rank arithmetic is
    * BIGINT, the register sum uses integer `2^(57-M)` shifts (no
    * floating accumulation — addition order cannot matter), the raw
    * estimate is ONE IEEE double division, and the small-range
    * linear-counting branch is the frozen [[HllLinearCounting]] lookup.
    * The exact distinct count rides along per bucket (the l82 audit
    * pattern: an approximation is reported NEXT TO its ground truth),
    * with the honest crossover note: at this fixture's cardinalities
    * (tens per window) the sketch's ~10% relative error is visible in
    * err_bp and the exact side is cheap — the sketch wins where q58's
    * set state blows up, i.e. high-cardinality production timelines.
    */
  def q69HllWindow(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.load(s, d, "events")
      .withColumn("tsec", expr("unix_micros(cast(ts as timestamp)) div 1000000"))
      .select($"event_type", expr("tsec div 300").as("tb"), $"user_id")
    val regs = ev
      .select($"event_type", $"tb",
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
          .as("h60"))
      .select($"event_type", $"tb",
        expr("h60 % 64").as("reg"),
        expr("CAST(CASE WHEN h60 DIV 64 = 0 THEN 55 " +
          "ELSE 55 - length(bin(h60 DIV 64)) END AS BIGINT)").as("rho"))
    val sketch = regs.groupBy($"event_type", $"tb", $"reg")
      .agg(max($"rho").as("m"))
    val buckets = ev.select($"event_type", $"tb").distinct()
    val contrib = sketch.select($"event_type", $"reg", $"m",
      explode(sequence($"tb", $"tb" + lit(11L))).as("tb"))
    val merged = contrib.join(broadcast(buckets), Seq("event_type", "tb"))
      .groupBy($"event_type", $"tb", $"reg").agg(max($"m").as("m"))
    val state = merged.groupBy($"event_type", $"tb")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(57 - m AS INT))"))
          .as("s_seen"),
        count(lit(1)).as("n_seen"))
      .select($"event_type", $"tb",
        ($"s_seen" +
          (lit(64L) - $"n_seen") * expr("shiftleft(CAST(1 AS BIGINT), 57)"))
          .as("s_all"),
        (lit(64L) - $"n_seen").as("v"))
    val est = state
      .withColumn("raw", expr("CAST(floor(0.709 * 4096 * " +
        "CAST(shiftleft(CAST(1 AS BIGINT), 57) AS DOUBLE) / " +
        "CAST(s_all AS DOUBLE)) AS BIGINT)"))
      .withColumn("u_hll", expr("CAST(CASE WHEN v > 0 AND raw <= 160 THEN " +
        s"element_at(array($HllLinearCounting), CAST(v AS INT)) " +
        "ELSE raw END AS BIGINT)"))
    val du = ev.distinct()
    val exact = du.select($"event_type", $"user_id",
        explode(sequence($"tb", $"tb" + lit(11L))).as("tb"))
      .join(broadcast(buckets), Seq("event_type", "tb"))
      .groupBy($"event_type", $"tb")
      .agg(countDistinct($"user_id").as("u_exact"))
    est.join(exact, Seq("event_type", "tb"))
      .select($"event_type", $"tb", $"u_hll", $"u_exact",
        expr("abs(u_hll - u_exact) * 10000 div u_exact").as("err_bp"))
      .orderBy($"event_type", $"tb")
  }
  val q69Sql: String =
    s"""WITH ev AS (
       |  SELECT event_type, epoch_us(ts) // 1000000 // 300 AS tb, user_id
       |  FROM events),
       |regs AS (
       |  SELECT event_type, tb,
       |    h60 % 64 AS reg,
       |    CAST(CASE WHEN h60 // 64 = 0 THEN 55
       |      ELSE 55 - length(bin(h60 // 64)) END AS BIGINT) AS rho
       |  FROM (
       |    SELECT event_type, tb,
       |      ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
       |        AS h60
       |    FROM ev)),
       |sketch AS (
       |  SELECT event_type, tb, reg, MAX(rho) AS m
       |  FROM regs GROUP BY 1, 2, 3),
       |buckets AS (SELECT DISTINCT event_type, tb FROM ev),
       |contrib AS (
       |  SELECT event_type, reg, m,
       |    unnest(generate_series(tb, tb + 11)) AS tb2
       |  FROM sketch),
       |merged AS (
       |  SELECT co.event_type, co.tb2 AS tb, co.reg, MAX(co.m) AS m
       |  FROM contrib co JOIN buckets b
       |    ON co.event_type = b.event_type AND co.tb2 = b.tb
       |  GROUP BY 1, 2, 3),
       |state AS (
       |  SELECT event_type, tb,
       |    CAST(SUM(1::BIGINT << CAST(57 - m AS INT)) AS BIGINT)
       |      + (64 - COUNT(*)) * (1::BIGINT << 57) AS s_all,
       |    64 - COUNT(*) AS v
       |  FROM merged GROUP BY 1, 2),
       |est AS (
       |  SELECT event_type, tb, v, raw,
       |    CAST(CASE WHEN v > 0 AND raw <= 160 THEN
       |      ([$HllLinearCounting])[CAST(v AS INT)]
       |      ELSE raw END AS BIGINT) AS u_hll
       |  FROM (
       |    SELECT *,
       |      CAST(floor(0.709 * 4096 * CAST(1::BIGINT << 57 AS DOUBLE)
       |        / CAST(s_all AS DOUBLE)) AS BIGINT) AS raw
       |    FROM state)),
       |exact AS (
       |  SELECT d.event_type, d.tb2 AS tb, COUNT(DISTINCT d.user_id) AS u_exact
       |  FROM (
       |    SELECT event_type, user_id,
       |      unnest(generate_series(tb, tb + 11)) AS tb2
       |    FROM (SELECT DISTINCT event_type, tb, user_id FROM ev)) d
       |  JOIN buckets b ON d.event_type = b.event_type AND d.tb2 = b.tb
       |  GROUP BY 1, 2)
       |SELECT e.event_type, e.tb, e.u_hll,
       |  CAST(x.u_exact AS BIGINT) AS u_exact,
       |  CAST(abs(e.u_hll - x.u_exact) * 10000 // x.u_exact AS BIGINT) AS err_bp
       |FROM est e JOIN exact x
       |  ON e.event_type = x.event_type AND e.tb = x.tb
       |ORDER BY e.event_type, e.tb""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_project" -> q01ScanProject _,
    "q02_filter" -> q02Filter _,
    "q03_explode" -> q03Explode _,
    "q04_agg" -> q04Agg _,
    "q05_join_broadcast" -> q05JoinBroadcast _,
    "q06_join_multiway" -> q06JoinMultiway _,
    "q07_semi_anti" -> q07SemiAnti _,
    "q08_outer_agg" -> q08OuterAgg _,
    "q09_window_topk" -> q09WindowTopK _,
    "q10_window_frames" -> q10WindowFrames _,
    "q11_lag_lead" -> q11LagLead _,
    "q12_distinct" -> q12Distinct _,
    "q13_rollup" -> q13Rollup _,
    "q14_cube" -> q14Cube _,
    "q15_setops" -> q15SetOps _,
    "q16_sort_limit" -> q16SortLimit _,
    "q17_scalar_math" -> q17ScalarMath _,
    "q18_scalar_string" -> q18ScalarString _,
    "q19_datetime" -> q19DateTime _,
    "q20_array_agg" -> q20ArrayAgg _,
    "q21_array_higher_order" -> q21ArrayHigherOrder _,
    "q22_range_join" -> q22RangeJoin _,
    "q23_asof" -> q23AsOf _,
    "q24_ema_udaf" -> q24Ema _,
    "q25_approx_distinct" -> q25ApproxDistinct _,
    "q26_pivot" -> q26Pivot _,
    "q27_unpivot" -> q27Unpivot _,
    "q28_quantiles" -> q28Quantiles _,
    "q29_window_ranks" -> q29WindowRanks _,
    "q30_correlated_subquery" -> q30CorrelatedSubquery _,
    "q31_grouping_sets" -> q31GroupingSets _,
    "q32_recursive_cte" -> q32RecursiveCte _,
    "q33_null_aware_anti" -> q33NullAwareAnti _,
    "q34_lateral" -> q34Lateral _,
    "q35_json" -> q35Json _,
    "q36_map" -> q36Map _,
    "q37_range_window" -> q37RangeWindow _,
    "q38_sessionize" -> q38Sessionize _,
    "q39_try_functions" -> q39TryFunctions _,
    "q40_approx_quantiles" -> q40ApproxQuantiles _,
    "q41_scd2_upsert" -> q41Scd2Upsert _,
    "q42_array_setops" -> q42ArraySetOps _,
    "q43_regexp" -> q43Regexp _,
    "q44_window_nav" -> q44WindowNav _,
    "q45_full_outer" -> q45FullOuter _,
    "q46_date_arith" -> q46DateArith _,
    "q47_moments" -> q47Moments _,
    "q48_filtered_agg" -> q48FilteredAgg _,
    "q49_string_agg" -> q49StringAgg _,
    "q50_histogram" -> q50Histogram _,
    "q51_setops_all" -> q51SetOpsAll _,
    "q52_outliers" -> q52Outliers _,
    "q53_argmax" -> q53ArgMax _,
    "q54_comovement" -> q54Comovement _,
    "q55_date_spine" -> q55DateSpine _,
    "q56_basket_pairs" -> q56BasketPairs _,
    "q57_percentile_cont" -> q57PercentileCont _,
    "q58_distinct_window" -> q58DistinctWindow _,
    "q59_interval_join" -> q59IntervalJoin _,
    "q60_time_weighted" -> q60TimeWeighted _,
    "q61_funnel" -> q61Funnel _,
    "q62_cohort" -> q62Cohort _,
    "q63_abc_class" -> q63AbcClass _,
    "q64_equidepth" -> q64EquiDepth _,
    "q65_mad_outliers" -> q65MadOutliers _,
    "q66_topk_custom" -> q66TopkCustom _,
    "q67_sliding_median" -> q67SlidingMedian _,
    "q68_bucket_median" -> q68BucketMedian _,
    "q69_hll_window" -> q69HllWindow _
  )

  val oracles: Map[String, String] = Map(
    "q01_scan_project" -> q01Sql,
    "q02_filter" -> q02Sql,
    "q03_explode" -> q03Sql,
    "q04_agg" -> q04Sql,
    "q05_join_broadcast" -> q05Sql,
    "q06_join_multiway" -> q06Sql,
    "q07_semi_anti" -> q07Sql,
    "q08_outer_agg" -> q08Sql,
    "q09_window_topk" -> q09Sql,
    "q10_window_frames" -> q10Sql,
    "q11_lag_lead" -> q11Sql,
    "q12_distinct" -> q12Sql,
    "q13_rollup" -> q13Sql,
    "q14_cube" -> q14Sql,
    "q15_setops" -> q15Sql,
    "q16_sort_limit" -> q16Sql,
    "q17_scalar_math" -> q17Sql,
    "q18_scalar_string" -> q18Sql,
    "q19_datetime" -> q19Sql,
    "q20_array_agg" -> q20Sql,
    "q21_array_higher_order" -> q21Sql,
    "q22_range_join" -> q22Sql,
    "q23_asof" -> q23Sql,
    "q24_ema_udaf" -> q24Sql,
    "q25_approx_distinct" -> q25Sql,
    "q26_pivot" -> q26Sql,
    "q27_unpivot" -> q27Sql,
    "q28_quantiles" -> q28Sql,
    "q29_window_ranks" -> q29Sql,
    "q30_correlated_subquery" -> q30Sql,
    "q31_grouping_sets" -> q31Sql,
    "q32_recursive_cte" -> q32Sql,
    "q33_null_aware_anti" -> q33Sql,
    "q34_lateral" -> q34Sql,
    "q35_json" -> q35Sql,
    "q36_map" -> q36Sql,
    "q37_range_window" -> q37Sql,
    "q38_sessionize" -> q38Sql,
    "q39_try_functions" -> q39Sql,
    "q40_approx_quantiles" -> q40Sql,
    "q41_scd2_upsert" -> q41Sql,
    "q42_array_setops" -> q42Sql,
    "q43_regexp" -> q43Sql,
    "q44_window_nav" -> q44Sql,
    "q45_full_outer" -> q45Sql,
    "q46_date_arith" -> q46Sql,
    "q47_moments" -> q47Sql,
    "q48_filtered_agg" -> q48Sql,
    "q49_string_agg" -> q49Sql,
    "q50_histogram" -> q50Sql,
    "q51_setops_all" -> q51Sql,
    "q52_outliers" -> q52Sql,
    "q53_argmax" -> q53Sql,
    "q54_comovement" -> q54Sql,
    "q55_date_spine" -> q55Sql,
    "q56_basket_pairs" -> q56Sql,
    "q57_percentile_cont" -> q57Sql,
    "q58_distinct_window" -> q58Sql,
    "q59_interval_join" -> q59Sql,
    "q60_time_weighted" -> q60Sql,
    "q61_funnel" -> q61Sql,
    "q62_cohort" -> q62Sql,
    "q63_abc_class" -> q63Sql,
    "q64_equidepth" -> q64Sql,
    "q65_mad_outliers" -> q65Sql,
    "q66_topk_custom" -> q66Sql,
    "q67_sliding_median" -> q67Sql,
    "q68_bucket_median" -> q68Sql,
    "q69_hll_window" -> q69Sql
  )

  // $"..." interpolator without importing a bound spark session's implicits
  private implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
