package graft

import graft.adt._
import graft.core.FxType
import graft.exec.{SqlRenderer, Translator}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A named query with its Spark implementation and (when SQL-expressible) the
  * equivalent DuckDB oracle SQL used by the driver's differential gate.
  */
final case class RegisteredQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Central query registry backing SparkEntry. ADT-defined queries get their
  * oracle SQL from [[SqlRenderer]], so the native (Translator) and SQL paths
  * are pinned to one IR instance — a divergence is a bug in exactly one place.
  */
object Registry {

  /** Per-JVM-unique scratch root for gates with filesystem side effects
    * (roundtrip writes, ingest stores, staged stream sources). Fixed
    * `/tmp/graft_*` names let two concurrent runs on one machine
    * cross-contaminate state or flake each other (r10 review); a
    * `createTempDirectory` root is unique per JVM while staying STABLE
    * within one run — bench re-passes and incremental-ingest gates
    * intentionally revisit the same store across invocations.
    */
  private lazy val scratchRoot: String =
    java.nio.file.Files.createTempDirectory("graft_gates_").toString

  private def scratch(name: String): String = s"$scratchRoot/$name"

  /** [[scratch]] path of a store or lake that each run rebuilds from
    * nothing: it is dropped with its stage and commit marker first, so an
    * earlier run's or an interrupted run's state cannot leak in.
    */
  private def freshStore(s: SparkSession, name: String): String = {
    val store = scratch(name)
    graft.sources.AtomicStore.drop(s, store)
    store
  }

  /** Exact-regime preconditions, memoized per (precondition, dataset dir).
    * A gate whose exact oracle comparison needs a property of the input
    * files (a group size below a sketch's capacity) checks it with one
    * small aggregate; the answer belongs to the files, not to the run, so
    * it is computed once per JVM and dir, not once per bench pass. Gates
    * that assert the same property share one key.
    */
  private val preconditions =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  private[graft] def memoPrecondition(key: String, dir: String)(compute: => Long): Long =
    preconditions.computeIfAbsent((key, dir), _ => compute)

  /** Money column as exact integer cents: through decimal(18,2), so no
    * float rounding reaches the long. [[centsSql]] is its oracle-SQL twin.
    */
  private[graft] def cents(c: String): Column =
    (org.apache.spark.sql.functions.col(c).cast("decimal(18,2)") * 100).cast("long")

  private[graft] def centsSql(c: String): String =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Dense daily order revenue in cents per `o_orderpriority` (the
    * time-series gates' input); [[dailyCentsSpineSql]] is its oracle body.
    */
  private def dailyCentsSpine(orders: DataFrame): DataFrame =
    graft.operators.DenseSeries.denseDaily(orders.withColumn("cents", cents("o_totalprice")),
      "o_orderpriority", "o_orderdate", "cents")

  private def dailyCentsSpineSql: String =
    graft.operators.DenseSeries.denseDailyOracleBody(
      "orders", "o_orderpriority", "o_orderdate", centsSql("o_totalprice"))

  /** Co-purchase graph edges `(src, dst)`: each pair of distinct parts on
    * lines of one order, both lines with quantity >= `minQty`, once with
    * src < dst. `extra` columns may read the `a` and `b` sides.
    * [[coPurchaseEdgesSql]] is its oracle-SQL twin.
    */
  private[graft] def coPurchaseEdges(lineitem: DataFrame, minQty: Int,
                                     extra: Column*): DataFrame = {
    import org.apache.spark.sql.functions.col
    val li = lineitem.where(col("l_quantity") >= minQty)
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.l_partkey") < col("b.l_partkey"))
      .select(Seq(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst")) ++ extra: _*)
  }

  private val coPurchaseOnSql = "a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"

  private[graft] def coPurchaseEdgesSql(minQty: Int, extra: String*): String =
    s"""SELECT a.l_partkey AS src, b.l_partkey AS dst${extra.map(",\n    " + _).mkString}
  FROM lineitem a JOIN lineitem b
    ON $coPurchaseOnSql
  WHERE a.l_quantity >= $minQty AND b.l_quantity >= $minQty"""

  /** [[coPurchaseEdgesSql]] with the quantity filter inside each join side. */
  private[graft] def coPurchaseEdgesPrefilteredSql(minQty: Int): String =
    s"""SELECT a.l_partkey AS src, b.l_partkey AS dst
FROM (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= $minQty) a
JOIN (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= $minQty) b
  ON $coPurchaseOnSql"""

  /** q_sample_mix quotas: uneven on purpose (some above the per-source row
    * count at small SFs — groups smaller than their quota emit all rows).
    */
  private[graft] val MixQuotas =
    Map("src0" -> 12, "src1" -> 4, "src3" -> 7, "src7" -> 1)

  /** q_quality_rules thresholds: word bounds tuned to SPLIT the synthetic
    * corpus (10–99 words/doc) so the gate output carries real variety;
    * minStopwords=1 because the word-soup generator provides function
    * words but not densely.
    */
  private[graft] val GateGopherRules =
    graft.text.CorpusFilters.GopherRules(minWords = 30, maxWords = 80, minStopwords = 1)

  /** Every Select registered through [[adt]], by name — the wire-codec spec
    * round-trips each one so QueryWire provably covers the live IR surface.
    */
  private val adtSelectsBuf = scala.collection.mutable.LinkedHashMap[String, Select]()
  def adtSelects: Map[String, Select] = adtSelectsBuf.toMap

  def adt(name: String, sel: Select): RegisteredQuery = {
    adtSelectsBuf(name) = sel
    RegisteredQuery(
      name,
      (s, dir) => Translator.select(sel, Tables.resolve(s, dir)),
      Some(SqlRenderer.select(sel)))
  }

  private val dec = FxType.TDecimal(18, 2)
  private def sumExact(e: ColumnExpr, alias: String): ColumnExpr =
    Cast(Agg(AggFn.Sum, e), FxType.TF64).as(alias)
  private def decOf(c: String): ColumnExpr = Cast(Col(c), dec)

  /** Flagship: TPC-H Q1-shaped pricing summary. Money sums are computed in
    * decimal and cast back to double so results are bit-identical across
    * engines and partitionings (float accumulation order independence) — the
    * property a 1000-executor run must preserve.
    */
  val q1: Select = Select(
    table = "lineitem",
    columns = Seq(
      Col("l_returnflag"),
      Col("l_linestatus"),
      sumExact(decOf("l_quantity"), "sum_qty"),
      sumExact(decOf("l_extendedprice"), "sum_base_price"),
      sumExact(BinOp(ArithOp.Mul, decOf("l_extendedprice"),
        BinOp(ArithOp.Sub, Lit(V.i32(1)), decOf("l_discount"))), "sum_disc_price"),
      Agg(AggFn.Avg, Col("l_quantity")).as("avg_qty"),
      CountStar.as("count_order")),
    filter = Some(Cond(Col("l_shipdate"), CondOp.LessEqual(V.dateTime(1998, 9, 1)))),
    groupBy = Seq(Col("l_returnflag"), Col("l_linestatus")),
    orderBy = Seq(Order.asc("l_returnflag"), Order.asc("l_linestatus")))

  val relational: Seq[RegisteredQuery] = Seq(
    adt("q1_agg", q1),

    // F1-F7: nested boolean filter tree (AND / OR / NOT / BETWEEN / LIKE / IN)
    adt("q_filter_nested", Select(
      table = "orders",
      columns = Seq(Col("o_orderkey"), Col("o_orderstatus"), Col("o_totalprice"), Col("o_orderpriority")),
      filter = Some(And(Seq(
        Or(Seq(
          Cond(Col("o_orderstatus"), CondOp.Equal(V.str("F"))),
          Cond(Col("o_orderstatus"), CondOp.Equal(V.str("P"))))),
        Not(Cond(Col("o_totalprice"), CondOp.Between(V.f64(50000.0), V.f64(150000.0)))),
        Cond(Col("o_orderpriority"), CondOp.Like("1%")),
        Cond(Col("o_orderkey"), CondOp.NotEqual(V.i64(-1)))))),
      orderBy = Seq(Order.asc("o_orderkey")))),

    // J1/J2: inner equi-join, qualified projection
    adt("q_join_inner", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderkey", Some("orders")),
        Col("c_name", Some("customer")),
        Col("c_mktsegment", Some("customer")),
        Col("o_totalprice", Some("orders"))),
      joins = Seq(Join("customer", Seq(("o_custkey", "c_custkey")))))),

    // J1: left join
    adt("q_join_left", Select(
      table = "customer",
      columns = Seq(
        Col("c_custkey", Some("customer")),
        Col("c_name", Some("customer")),
        Col("n_name", Some("nation"))),
      joins = Seq(Join("nation", Seq(("c_nationkey", "n_nationkey")), JoinType.Left)),
      orderBy = Seq(Order.asc("c_custkey")))),

    // J1: right join
    adt("q_join_right", Select(
      table = "orders",
      columns = Seq(
        Col("c_custkey", Some("customer")),
        Col("c_name", Some("customer")),
        Col("o_orderkey", Some("orders"))),
      joins = Seq(Join("customer", Seq(("o_custkey", "c_custkey")), JoinType.Right)))),

    // J2 multi-key equi-join (self-join with alias)
    adt("q_join_multikey", Select(
      table = "lineitem",
      columns = Seq(
        Col("l_orderkey", Some("lineitem")).as("okey"),
        Col("l_linenumber", Some("lineitem")).as("lnum"),
        Col("l_quantity", Some("li2")).as("qty2")),
      joins = Seq(Join("lineitem",
        Seq(("l_orderkey", "l_orderkey"), ("l_linenumber", "l_linenumber")),
        JoinType.Inner, as = Some("li2"))))),

    // A3: grand aggregate (no group by)
    adt("q_grand_agg", Select(
      table = "orders",
      columns = Seq(
        CountStar.as("n_orders"),
        sumExact(decOf("o_totalprice"), "sum_price"),
        Agg(AggFn.Max, Col("o_totalprice")).as("max_price"),
        Agg(AggFn.Min, Col("o_totalprice")).as("min_price"),
        Agg(AggFn.Count, Col("o_custkey"), distinct = true).as("n_customers")))),

    // extension: ROLLUP — per-(status,priority) + per-status subtotals +
    // grand total in ONE aggregation pass (Spark expands grouping sets
    // map-side; same single shuffle as the plain groupBy)
    adt("q_rollup", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderstatus"), Col("o_orderpriority"),
        CountStar.as("n"),
        sumExact(decOf("o_totalprice"), "sum_price")),
      groupBy = Seq(Col("o_orderstatus"), Col("o_orderpriority")),
      orderBy = Seq(Order.asc("o_orderstatus"), Order.asc("o_orderpriority")),
      groupingMode = GroupingMode.Rollup)),

    // extension: CUBE — all four grouping sets of (status, priority)
    adt("q_cube", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderstatus"), Col("o_orderpriority"),
        CountStar.as("n")),
      groupBy = Seq(Col("o_orderstatus"), Col("o_orderpriority")),
      orderBy = Seq(Order.asc("o_orderstatus"), Order.asc("o_orderpriority")),
      groupingMode = GroupingMode.Cube)),

    // join against a derived table: SEMI vs an aggregated+HAVING subselect —
    // the IN-subquery idiom ("customers with ≥15 orders")
    adt("q_join_derived", Select(
      table = "customer",
      columns = Seq(Col("c_custkey"), Col("c_name"), Col("c_mktsegment")),
      joins = Seq(Join(
        table = "busy",
        on = Seq(("c_custkey", "o_custkey")),
        typ = JoinType.Semi,
        subSelect = Some(Select(
          table = "orders",
          columns = Seq(Col("o_custkey"), CountStar.as("n")),
          groupBy = Seq(Col("o_custkey")),
          having = Some(Cond(Col("n"), CondOp.GreaterEqual(V.i64(15)))))))),
      orderBy = Seq(Order.asc("c_custkey")))),

    // derived table (FROM subselect): two-level aggregation — per-customer
    // order counts, then the distribution over customers — one IR value
    adt("q_derived_table", Select(
      table = "per_cust",
      columns = Seq(
        CountStar.as("n_custs"),
        Agg(AggFn.Avg, Col("n_orders")).as("avg_orders"),
        Agg(AggFn.Max, Col("n_orders")).as("max_orders"),
        Agg(AggFn.Min, Col("n_orders")).as("min_orders")),
      fromSelect = Some(Select(
        table = "orders",
        columns = Seq(Col("o_custkey"), CountStar.as("n_orders")),
        groupBy = Seq(Col("o_custkey")))))),

    // explicit ORDER BY null placement: rollup's NULL grand-total row is
    // pinned LAST on an ASC sort (Spark's default would put it first)
    adt("q_order_nulls", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderstatus"),
        CountStar.as("n")),
      groupBy = Seq(Col("o_orderstatus")),
      orderBy = Seq(Order.ascNullsLast("o_orderstatus")),
      groupingMode = GroupingMode.Rollup)),

    // arbitrary GROUPING SETS (the rollup/cube generalization): detail,
    // one-dim subtotal, and grand-total sets in one shuffle
    adt("q_grouping_sets", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderstatus"), Col("o_orderpriority"),
        CountStar.as("n"),
        Cast(Agg(AggFn.Sum, Cast(Col("o_totalprice"), dec)), FxType.TF64).as("total")),
      groupBy = Seq(Col("o_orderstatus"), Col("o_orderpriority")),
      orderBy = Seq(Order.asc("o_orderstatus"), Order.asc("o_orderpriority")),
      groupingMode = GroupingMode.Sets(Seq(
        Seq("o_orderstatus", "o_orderpriority"),
        Seq("o_orderpriority"),
        Seq.empty)))),

    // HAVING over output columns + conditional aggregation (CASE inside SUM,
    // decimal-exact so the sum is partitioning-independent); the renderer
    // substitutes the aliases back to aggregate expressions for ANSI HAVING
    adt("q_having", Select(
      table = "orders",
      columns = Seq(
        Col("o_custkey"),
        CountStar.as("n_orders"),
        Cast(Agg(AggFn.Sum, CaseWhen(
          Seq((Cond(Col("o_orderpriority"), CondOp.Like("1%")),
            Cast(Col("o_totalprice"), dec))),
          default = Some(Cast(Lit(V.i32(0)), dec)))), FxType.TF64).as("urgent_total")),
      groupBy = Seq(Col("o_custkey")),
      having = Some(And(Seq(
        Cond(Col("n_orders"), CondOp.GreaterEqual(V.i64(15))),
        Cond(Col("urgent_total"), CondOp.Greater(V.i64(0)))))),
      orderBy = Seq(Order.asc("o_custkey")))),

    // compound set ops through the IR: wire-expressible UNION/EXCEPT (the
    // Fabrix-layer set ops made first-class queries)
    {
      val building = Select("customer", Seq(Col("c_custkey"), Col("c_name")),
        filter = Some(Cond(Col("c_mktsegment"), CondOp.Equal(V.str("BUILDING")))))
      val richOrPoor = Select("customer", Seq(Col("c_custkey"), Col("c_name")),
        filter = Some(Or(Seq(
          Cond(Col("c_acctbal"), CondOp.Greater(V.f64(9000.0))),
          Cond(Col("c_acctbal"), CondOp.Less(V.f64(-900.0)))))))
      val c = Compound(SetOp.Union, building, richOrPoor,
        orderBy = Seq(Order.asc("c_custkey")))
      RegisteredQuery(
        "q_compound_union",
        (s, dir) => Translator.compound(c, Tables.resolve(s, dir)),
        Some(SqlRenderer.compound(c)))
    },
    {
      val building = Select("customer", Seq(Col("c_custkey"), Col("c_name")),
        filter = Some(Cond(Col("c_mktsegment"), CondOp.Equal(V.str("BUILDING")))))
      val rich = Select("customer", Seq(Col("c_custkey"), Col("c_name")),
        filter = Some(Cond(Col("c_acctbal"), CondOp.Greater(V.f64(5000.0)))))
      val c = Compound(SetOp.Except, building, rich,
        orderBy = Seq(Order.asc("c_custkey")), limit = Some(100))
      RegisteredQuery(
        "q_compound_except",
        (s, dir) => Translator.compound(c, Tables.resolve(s, dir)),
        Some(SqlRenderer.compound(c)))
    },

    // date extraction as computed group keys: monthly revenue rollup keyed
    // on EXTRACT(YEAR)/EXTRACT(MONTH) of the order timestamp
    adt("q_date_extract", Select(
      table = "orders",
      columns = Seq(
        Fn(ScalarFn.Extract("year"), Seq(Col("o_orderdate"))).as("y"),
        Fn(ScalarFn.Extract("month"), Seq(Col("o_orderdate"))).as("m"),
        CountStar.as("n"),
        Cast(Agg(AggFn.Sum, Cast(Col("o_totalprice"), dec)), FxType.TF64).as("revenue")),
      groupBy = Seq(Col("y"), Col("m")),
      orderBy = Seq(Order.asc("y"), Order.asc("m")))),

    // DATE_TRUNC month bucketing (timestamp-valued truncation cross-engine)
    adt("q_date_trunc", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderkey"),
        Fn(ScalarFn.DateTrunc("month"), Seq(Col("o_orderdate"))).as("month"),
        Fn(ScalarFn.Extract("day"), Seq(Col("o_orderdate"))).as("dom")))),

    // C-extension string functions: SUBSTRING / TRIM / || concat / REPLACE
    adt("q_string_fns", Select(
      table = "customer",
      columns = Seq(
        Col("c_custkey"),
        Fn(ScalarFn.Substring, Seq(Col("c_name"), Lit(V.i32(1)), Lit(V.i32(8)))).as("name8"),
        Fn(ScalarFn.Trim, Seq(
          Fn(ScalarFn.Concat, Seq(Lit(V.str("  ")), Col("c_name"), Lit(V.str(" ")))))).as("trimmed"),
        Fn(ScalarFn.Replace, Seq(Col("c_mktsegment"), Lit(V.str("AUTO")), Lit(V.str("CAR")))).as("seg")),
      orderBy = Seq(Order.asc("c_custkey")))),

    // GROUP BY a computed key: aggregation keyed on the CASE band's output
    // alias; renderer substitutes the defining expression (plain ANSI)
    adt("q_group_by_case", Select(
      table = "orders",
      columns = Seq(
        CaseWhen(
          Seq(
            (Cond(Col("o_totalprice"), CondOp.Less(V.f64(50000.0))), Lit(V.str("low"))),
            (Cond(Col("o_totalprice"), CondOp.Less(V.f64(150000.0))), Lit(V.str("mid")))),
          default = Some(Lit(V.str("high")))).as("band"),
        CountStar.as("n"),
        Cast(Agg(AggFn.Sum, Cast(Col("o_totalprice"), dec)), FxType.TF64).as("total")),
      groupBy = Seq(Col("band")),
      orderBy = Seq(Order.asc("band")))),

    // searched CASE as a plain (non-aggregate) projection: price banding
    adt("q_case_expr", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderkey"),
        CaseWhen(
          Seq(
            (Cond(Col("o_totalprice"), CondOp.Less(V.f64(50000.0))), Lit(V.str("low"))),
            (Cond(Col("o_totalprice"), CondOp.Less(V.f64(150000.0))), Lit(V.str("mid")))),
          default = Some(Lit(V.str("high")))).as("band")))),

    // extension: ranking window functions — rank/row_number per nation over
    // a TOTAL order (unique-key tiebreak ⇒ deterministic at any partitioning)
    adt("q_window_rank", Select(
      table = "customer",
      columns = Seq(
        Col("c_custkey"), Col("c_nationkey"),
        WinExpr(WindowFn.Rank, WindowDef(
          partitionBy = Seq(Col("c_nationkey")),
          orderBy = Seq(Order.desc("c_acctbal"), Order.asc("c_custkey")))).as("bal_rank"),
        WinExpr(WindowFn.RowNumber, WindowDef(
          partitionBy = Seq(Col("c_nationkey")),
          orderBy = Seq(Order.desc("c_acctbal"), Order.asc("c_custkey")))).as("rn")),
      orderBy = Seq(Order.asc("c_custkey")))),

    // extension: analytic window family — ntile / percent_rank / cume_dist /
    // first_value (default frame) / last_value (explicit unbounded frame;
    // ANSI default-frame LAST_VALUE is the current row — the classic gotcha)
    adt("q_window_analytics", {
      val over = WindowDef(
        partitionBy = Seq(Col("o_orderstatus")),
        orderBy = Seq(Order.asc("o_orderkey")))
      val full = over.copy(frame =
        Some((FrameBound.UnboundedPreceding, FrameBound.UnboundedFollowing)))
      Select(
        table = "orders",
        columns = Seq(
          Col("o_orderkey"), Col("o_orderstatus"),
          WinExpr(WindowFn.Ntile(4), over).as("tile"),
          WinExpr(WindowFn.PercentRank, over).as("pr"),
          WinExpr(WindowFn.CumeDist, over).as("cd"),
          WinExpr(WindowFn.FirstValue(Col("o_totalprice")), over).as("first_price"),
          WinExpr(WindowFn.LastValue(Col("o_totalprice")), full).as("last_price")))
    }),

    // extension: lag/lead over each customer's order history
    adt("q_window_lag", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderkey"), Col("o_custkey"), Col("o_totalprice"),
        WinExpr(WindowFn.Lag(Col("o_totalprice")), WindowDef(
          partitionBy = Seq(Col("o_custkey")),
          orderBy = Seq(Order.asc("o_orderkey")))).as("prev_price"),
        WinExpr(WindowFn.Lead(Col("o_orderkey")), WindowDef(
          partitionBy = Seq(Col("o_custkey")),
          orderBy = Seq(Order.asc("o_orderkey")))).as("next_okey")))),

    // extension: moving-frame windowed aggregates (ROWS BETWEEN) — running
    // 3-order spend per customer. The window ORDER BY must be TOTAL
    // (o_orderkey is unique): positional frames over a tied order are
    // engine/partitioning-dependent — the synthetic lineitem's duplicated
    // (orderkey, linenumber) keys make exactly that mistake available. The
    // sum runs in decimal inside the frame so both engines produce
    // identical doubles whatever their internal accumulation order.
    adt("q_window_moving", Select(
      table = "orders",
      columns = Seq(
        Col("o_orderkey"), Col("o_custkey"),
        Cast(WinExpr(WindowFn.WAgg(AggFn.Sum, decOf("o_totalprice")), WindowDef(
          partitionBy = Seq(Col("o_custkey")),
          orderBy = Seq(Order.asc("o_orderkey")),
          frame = Some((FrameBound.Preceding(2), FrameBound.CurrentRow)))), FxType.TF64).as("mv_spend"),
        WinExpr(WindowFn.WAgg(AggFn.Count, Col("o_totalprice")), WindowDef(
          partitionBy = Seq(Col("o_custkey")),
          orderBy = Seq(Order.asc("o_orderkey")),
          frame = Some((FrameBound.Preceding(2), FrameBound.CurrentRow)))).as("mv_n")))),

    // A2 + group-by over join (count per nation)
    adt("q_groupby_join", Select(
      table = "customer",
      columns = Seq(
        Col("n_name", Some("nation")),
        CountStar.as("n_customers"),
        sumExact(Cast(Col("c_acctbal"), dec), "sum_bal")),
      joins = Seq(Join("nation", Seq(("c_nationkey", "n_nationkey")))),
      groupBy = Seq(Col("n_name")),
      orderBy = Seq(Order.asc("n_name")))),

    // O1-O3: multi-key sort + limit + offset (unique tiebreak ⇒ deterministic)
    adt("q_sort_limit_offset", Select(
      table = "orders",
      columns = Seq(Col("o_orderkey"), Col("o_totalprice")),
      orderBy = Seq(Order.desc("o_totalprice"), Order.asc("o_orderkey")),
      limit = Some(20),
      offset = Some(5))),

    // C1-C6: scalar functions
    adt("q_scalar_fns", Select(
      table = "customer",
      columns = Seq(
        Col("c_custkey"),
        Fn(ScalarFn.Upper, Seq(Col("c_name"))).as("name_up"),
        Fn(ScalarFn.Lower, Seq(Col("c_mktsegment"))).as("seg_lo"),
        Fn(ScalarFn.CharLength, Seq(Col("c_name"))).as("name_len"),
        Fn(ScalarFn.Abs, Seq(Col("c_acctbal"))).as("bal_abs"),
        Fn(ScalarFn.IfNull, Seq(Col("c_acctbal"), Lit(V.f64(0.0)))).as("bal_or_zero"),
        Cast(Col("c_custkey"), FxType.TString).as("key_str"),
        Fn(ScalarFn.Round, Seq(Col("c_acctbal"), Lit(V.i32(0)))).as("bal_round")),
      orderBy = Seq(Order.asc("c_custkey")))),

    // distinct projection
    adt("q_distinct", Select(
      table = "orders",
      columns = Seq(Col("o_orderstatus"), Col("o_orderpriority")),
      distinct = true,
      orderBy = Seq(Order.asc("o_orderstatus"), Order.asc("o_orderpriority")))),

    // semi join extension (EXISTS)
    RegisteredQuery(
      "q_join_semi",
      (s, dir) => Translator.select(Select(
        table = "customer",
        columns = Seq(Col("c_custkey"), Col("c_name")),
        joins = Seq(Join("orders", Seq(("c_custkey", "o_custkey")), JoinType.Semi)),
        orderBy = Seq(Order.asc("c_custkey"))), Tables.resolve(s, dir)),
      Some("SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders) ORDER BY c_custkey")),

    // anti join extension (NOT EXISTS)
    RegisteredQuery(
      "q_join_anti",
      (s, dir) => Translator.select(Select(
        table = "customer",
        columns = Seq(Col("c_custkey"), Col("c_name")),
        joins = Seq(Join("orders", Seq(("c_custkey", "o_custkey")), JoinType.Anti)),
        orderBy = Seq(Order.asc("c_custkey"))), Tables.resolve(s, dir)),
      Some("SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey")),

    // U1 vconcat: union of disjoint filtered subsets
    RegisteredQuery(
      "q_union",
      (s, dir) => {
        val t = Tables.resolve(s, dir)
        val lo = Translator.select(Select("orders",
          Seq(Col("o_orderkey"), Col("o_totalprice")),
          filter = Some(Cond(Col("o_totalprice"), CondOp.Less(V.f64(20000.0))))), t)
        val hi = Translator.select(Select("orders",
          Seq(Col("o_orderkey"), Col("o_totalprice")),
          filter = Some(Cond(Col("o_totalprice"), CondOp.Greater(V.f64(300000.0))))), t)
        lo.unionByName(hi).orderBy("o_orderkey")
      },
      Some("SELECT * FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 20000.0 UNION ALL SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000.0) ORDER BY o_orderkey")),

    // Delete semantics (native path = complement of the filter)
    RegisteredQuery(
      "q_delete",
      (s, dir) => Translator.delete(
        Delete("orders", Some(And(Seq(
          Cond(Col("o_orderstatus"), CondOp.Equal(V.str("F"))),
          Cond(Col("o_totalprice"), CondOp.Greater(V.f64(100000.0))))))),
        Tables.resolve(s, dir))
        .select("o_orderkey", "o_orderstatus", "o_totalprice"),
      Some("SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE NOT (o_orderstatus = 'F' AND o_totalprice > 100000.0)")))

  /** Row/index ops (F8), forceCast (C7), set-op extensions — exercised through
    * the Fabrix wrapper / Column helpers so the judged gate covers the
    * wrapper-API path, not just the ADT translator.
    */
  val rowOps: Seq[RegisteredQuery] = {
    import graft.core.{Fabrix, ForceCast}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, StringType}
    Seq(
      // F8 positional slice in index order (Fabrix.slice → sort+GlobalLimit)
      RegisteredQuery(
        "q_fabrix_slice",
        (s, dir) => Fabrix(Tables.resolve(s, dir)("orders"), "o_orderkey")
          .slice(100, 50).df.select("o_orderkey", "o_totalprice"),
        Some("SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 50 OFFSET 100")),

      // F8 tail in index order
      RegisteredQuery(
        "q_fabrix_tail",
        (s, dir) => Fabrix(Tables.resolve(s, dir)("customer"), "c_custkey")
          .tail(10).df.select("c_custkey", "c_name"),
        Some("SELECT c_custkey, c_name FROM customer ORDER BY c_custkey DESC LIMIT 10")),

      // C7 forceCast: total string→int cast, NULL on failure (TRY_CAST oracle)
      RegisteredQuery(
        "q_force_cast",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          docs.select(
            col("doc_id"),
            ForceCast.forceCast(col("n_chars").cast(StringType), StringType, IntegerType).as("n_parsed"),
            ForceCast.forceCast(col("lang"), StringType, IntegerType).as("lang_parsed"),
            ForceCast.forceCast(col("n_chars"), StringType).as("n_str"))
            .orderBy("doc_id")
        },
        Some("SELECT doc_id, TRY_CAST(CAST(n_chars AS VARCHAR) AS INTEGER) AS n_parsed, TRY_CAST(lang AS INTEGER) AS lang_parsed, CAST(n_chars AS VARCHAR) AS n_str FROM documents ORDER BY doc_id")),

      // set-op extension: INTERSECT (SURVEY §2.7 "NOT present" row)
      RegisteredQuery(
        "q_intersect",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          t("customer").select(col("c_nationkey").as("nationkey")).distinct()
            .intersect(t("supplier").select(col("s_nationkey").as("nationkey")).distinct())
            .orderBy("nationkey")
        },
        Some("SELECT DISTINCT c_nationkey AS nationkey FROM customer INTERSECT SELECT DISTINCT s_nationkey AS nationkey FROM supplier ORDER BY nationkey")),

      // set-op extension: EXCEPT
      RegisteredQuery(
        "q_except",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          t("customer").select(col("c_nationkey").as("nationkey")).distinct()
            .except(t("supplier").select(col("s_nationkey").as("nationkey")).distinct())
            .orderBy("nationkey")
        },
        Some("SELECT DISTINCT c_nationkey AS nationkey FROM customer EXCEPT SELECT DISTINCT s_nationkey AS nationkey FROM supplier ORDER BY nationkey")))
  }

  /** Source/sink ops exercised inside the judged gate: write the table out
    * through our writer, read it back through our reader, and the oracle
    * checks fidelity against the original parquet (S1/S2, S5/S6).
    */
  val sourceOps: Seq[RegisteredQuery] = {
    import graft.sources._
    Seq(
      RegisteredQuery(
        "q_csv_roundtrip",
        (s, dir) => {
          val nation = Tables.resolve(s, dir)("nation")
          val out = scratch("csv_roundtrip")
          Csv.write(nation, out, CsvWriteOptions(delimiter = '|'))
          Csv.read(s, out, CsvReadOptions(delimiter = '|', schema = Some(nation.schema)))
            .orderBy("n_nationkey")
        },
        Some("SELECT * FROM nation ORDER BY n_nationkey")),

      RegisteredQuery(
        "q_json_roundtrip",
        (s, dir) => {
          val region = Tables.resolve(s, dir)("region")
          val out = scratch("json_roundtrip")
          Json.write(region, out)
          Json.read(s, out, JsonReadOptions(schema = Some(region.schema)))
            .orderBy("r_regionkey")
        },
        Some("SELECT * FROM region ORDER BY r_regionkey")),

      // opaque-file ingest (the multimodal on-ramp): deterministic payload
      // files written from nation rows, read back via the binaryFile
      // source; byte fidelity proven by md5 against the table-side hash
      RegisteredQuery(
        "q_binary_ingest",
        (s, dir) => {
          import org.apache.spark.sql.functions.{col, md5}
          val out = scratch("binary_ingest")
          val d = new java.io.File(out)
          d.mkdirs()
          Option(d.listFiles()).foreach(_.filter(_.getName.endsWith(".bin"))
            .foreach(_.delete()))
          Tables.resolve(s, dir)("nation").select("n_nationkey", "n_name")
            .collect().foreach { r => // 25 rows — contractually small
              java.nio.file.Files.write(
                java.nio.file.Paths.get(out, s"n_${r.get(0)}.bin"),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
          BinaryFiles.read(s, out, glob = Some("*.bin"))
            .select(col("file_name").as("fname"), col("n_bytes"),
              md5(col("content")).as("content_md5"))
            .orderBy("fname")
        },
        Some("SELECT 'n_' || n_nationkey || '.bin' AS fname, " +
          "CAST(length(n_name) AS BIGINT) AS n_bytes, md5(n_name) AS content_md5 " +
          "FROM nation ORDER BY fname")),

      // S7: XLSX write → chunked read-back (Excel numbers are doubles, so
      // integer columns come back DoubleType — cast to the oracle types)
      RegisteredQuery(
        "q_xlsx_roundtrip",
        (s, dir) => {
          import graft.xl._
          import org.apache.spark.sql.functions.col
          val nation = Tables.resolve(s, dir)("nation").orderBy("n_nationkey")
          val path = scratch("xlsx_roundtrip.xlsx")
          val cols = nation.columns.toSeq
          XlsxWriter.write(path, header = Some(cols),
            rows = nation.collect().iterator.map(_.toSeq))
          val reader = new XlsxReader(path)
          var frames = Vector.empty[org.apache.spark.sql.DataFrame]
          XlIngest.run(s, reader, "data", SaveStrategy.Append,
            (df, _) => frames = frames :+ df, batchSize = 7)
          reader.close()
          frames.reduce(_ unionByName _)
            .select(
              col("n_nationkey").cast("int"),
              col("n_name"),
              col("n_regionkey").cast("int"))
            .orderBy("n_nationkey")
        },
        Some("SELECT * FROM nation ORDER BY n_nationkey")),

      // extension: ORC lake roundtrip (second columnar format; same pruning
      // levers as parquet — partition dirs + sorted stripes)
      RegisteredQuery(
        "q_orc_roundtrip",
        (s, dir) => {
          val supplier = Tables.resolve(s, dir)("supplier")
          val out = scratch("orc_roundtrip")
          Orc.write(supplier, out, OrcWriteOptions(sortBy = Seq("s_suppkey")))
          Orc.read(s, out).orderBy("s_suppkey")
        },
        Some("SELECT * FROM supplier ORDER BY s_suppkey")),

      // copy-on-write lake merge: upsert a batch (updates incl. partition-
      // moving ones + inserts) into a hive-partitioned lake, rewriting only
      // touched partitions; read-back vs a plain SQL upsert oracle
      RegisteredQuery(
        "q_lake_merge",
        (s, dir) => {
          import graft.sources.LakeMerge
          import org.apache.spark.sql.functions.{col, lit, when}
          // fresh lake per run: stale inserted keys from a previous run are
          // not in the batch and would otherwise survive the re-merge
          val lake = freshStore(s, "lake_merge")
          val orders = Tables.resolve(s, dir)("orders")
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          // bootstrap, then merge: updates double the price (every 7th key;
          // every 21st also MOVES partition to 1-URGENT) + inserts (every
          // 13th key shifted past the key space)
          LakeMerge.merge(s, lake, orders,
            keyCols = Seq("o_orderkey"), partitionCols = Seq("o_orderpriority"))
          val batch = orders.where(col("o_orderkey") % 7 === 0)
            .select(col("o_orderkey"), (col("o_totalprice") * 2).as("o_totalprice"),
              when(col("o_orderkey") % 21 === 0, lit("1-URGENT"))
                .otherwise(col("o_orderpriority")).as("o_orderpriority"))
            .unionByName(orders.where(col("o_orderkey") % 13 === 0)
              .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
                col("o_totalprice"), col("o_orderpriority")))
          LakeMerge.merge(s, lake, batch,
            keyCols = Seq("o_orderkey"), partitionCols = Seq("o_orderpriority"))
          s.read.parquet(lake)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderpriority").cast("string").as("o_orderpriority"))
            .orderBy("o_orderkey")
        },
        Some("""WITH batch AS (
  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
    CASE WHEN o_orderkey % 21 = 0 THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0)
SELECT o_orderkey, o_totalprice, o_orderpriority FROM batch
UNION ALL
SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.o_orderkey = o.o_orderkey)
ORDER BY o_orderkey""")),

      // P6/U2 hconcat in the gate: positional zip of two projections of the
      // same scan (same partition layout on both sides ⇒ rows re-pair with
      // their own key order)
      RegisteredQuery(
        "q_hconcat",
        (s, dir) => {
          import graft.core.Fabrix
          import org.apache.spark.sql.functions.col
          val nation = Tables.resolve(s, dir)("nation")
          val left = Fabrix(nation.select("n_nationkey", "n_name"))
          val right = Fabrix(nation.select(col("n_regionkey").as("rk")))
          left.hconcat(right).df.orderBy("n_nationkey")
        },
        Some("SELECT n_nationkey, n_name, n_regionkey AS rk FROM nation ORDER BY n_nationkey")),

      // S12: wire-codec roundtrip through the Column JSON format
      RegisteredQuery(
        "q_wire_roundtrip",
        (s, dir) => {
          import graft.core.Fabrix
          import graft.wire.JsonWire
          val region = Fabrix(Tables.resolve(s, dir)("region"), "r_regionkey")
          val json = JsonWire.toJson(region, JsonWire.WireType.Column)
          JsonWire.fromJson(s, json, JsonWire.WireType.Column).df.orderBy("r_regionkey")
        },
        Some("SELECT * FROM region ORDER BY r_regionkey")),

      // S10/S11: document-store insert → find-back roundtrip
      RegisteredQuery(
        "q_docstore_roundtrip",
        (s, dir) => {
          import graft.core.Fabrix
          val store = new JsonDirStore(scratch("docstore_gate"))
          val region = Fabrix(Tables.resolve(s, dir)("region"), "r_regionkey")
          store.put("region", region, SavingCategory.Column)
          store.find(s, "region").get.df.orderBy("r_regionkey")
        },
        Some("SELECT * FROM region ORDER BY r_regionkey")),

      // F8: takeRows/removeRows by index value through the wrapper API
      RegisteredQuery(
        "q_fabrix_take_remove",
        (s, dir) => {
          import graft.core.Fabrix
          val f = Fabrix(Tables.resolve(s, dir)("nation"), "n_nationkey")
          f.takeRows(Seq(0L, 5L, 10L, 15L, 20L)).removeRows(Seq(10L))
            .df.select("n_nationkey", "n_name").orderBy("n_nationkey")
        },
        Some("SELECT n_nationkey, n_name FROM nation WHERE n_nationkey IN (0,5,15,20) ORDER BY n_nationkey")),

      // S8/S9: JDBC write → partitioned read-back through Derby in-memory
      RegisteredQuery(
        "q_jdbc_roundtrip",
        (s, dir) => {
          val ex = new JdbcExecutor("jdbc:derby:memory:gate_rt;create=true")
          val nation = Tables.resolve(s, dir)("nation")
          ex.write(nation, "nation_rt", SaveStrategy.Replace)
          // explicit partitionColumn: the written table has no PK, so the
          // introspected-PK fallback would silently take the
          // single-connection path and never exercise the stride math
          ex.readTable(s, "nation_rt", partitionColumn = Some("n_nationkey"))
            .select(
              org.apache.spark.sql.functions.col("n_nationkey").cast("int"),
              org.apache.spark.sql.functions.col("n_name"),
              org.apache.spark.sql.functions.col("n_regionkey").cast("int"))
            .orderBy("n_nationkey")
        },
        Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

      // A5/S9: upsert save-strategy through the parquet lake store — half the
      // rows updated, a disjoint batch appended; oracle replays the
      // anti-join + union split
      RegisteredQuery(
        "q_upsert_store",
        (s, dir) => {
          import org.apache.spark.sql.functions._
          val store = new ParquetStore(scratch("upsert_gate"))
          store.drop("cust")
          val cust = Tables.resolve(s, dir)("customer")
            .select("c_custkey", "c_name", "c_acctbal")
          store.write(cust, "cust", SaveStrategy.Replace)
          val updates = cust.where(col("c_custkey") % 2 === 0)
            .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
          store.write(updates, "cust", SaveStrategy.Upsert("c_custkey"))
          store.read(s, "cust").orderBy("c_custkey")
        },
        Some("SELECT c_custkey, c_name, " +
          "CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal " +
          "FROM customer ORDER BY c_custkey")),

      // T4: Pipeline read → transform → frame (Dispatcher equivalent in-gate)
      RegisteredQuery(
        "q_pipeline",
        (s, dir) => {
          import org.apache.spark.sql.functions._
          graft.pipeline.Pipeline(
            sess => Tables.resolve(sess, dir)("lineitem"))
            .transform(_.where(col("l_quantity") >= 30))
            .transform(_.groupBy(col("l_returnflag"))
              .agg(count(lit(1)).as("n"),
                sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty")))
            .frame(s)
            .orderBy("l_returnflag")
        },
        Some("SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty " +
          "FROM lineitem WHERE l_quantity >= 30 GROUP BY l_returnflag ORDER BY l_returnflag")))
  }

  /** LLM-data-pipeline extension operators (SURVEY §7 M7) — dedup, text
    * analysis, similarity search, event windowing — each gate-checked against
    * a DuckDB oracle generated from the same constants as the Spark code.
    */
  val llmOps: Seq[RegisteredQuery] = {
    import graft.llm.{Dedup, EventWindows, Similarity}
    import graft.operators.AsofJoin
    import graft.text.TextFunctions._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    Seq(
      // exact dedup: keep lowest doc_id per identical text (1 shuffle on fp)
      RegisteredQuery(
        "q_dedup_exact",
        (s, dir) => Dedup.dedupExact(Tables.resolve(s, dir)("documents"), "text", "doc_id")
          .select("doc_id", "lang", "n_chars").orderBy("doc_id"),
        Some(Dedup.exactOracle("documents", "doc_id", "text", Seq("doc_id", "lang", "n_chars")))),

      // exact substring dedup (corpus rewrite): repeated 4-token blocks
      // removed everywhere but their first occurrence, docs reassembled —
      // one fingerprint-window shuffle + one per-doc regroup
      RegisteredQuery(
        "q_dedup_spans",
        (s, dir) => Dedup.dedupSpans(Tables.resolve(s, dir)("documents"), n = 4, minCount = 2)
          .orderBy("doc_id"),
        Some(Dedup.spansOracle("documents", "doc_id", "text", n = 4, minCount = 2))),

      // near-dup pairs: banded MinHash + LSH bucket join + exact-Jaccard verify
      RegisteredQuery(
        "q_dedup_minhash",
        (s, dir) => Dedup.dedupMinhashPairs(Tables.resolve(s, dir)("documents"), "text", "doc_id")
          .orderBy("left_id", "right_id"),
        Some(Dedup.minhashOracle("documents", "doc_id", "text"))),

      // exact n-gram Jaccard similarity join: AllPairs/PPJoin prefix
      // filtering over a df-ascending global shingle order generates
      // candidates losslessly, exact set intersection verifies with a
      // cross-multiplied integer threshold — the recall-1.0 complement
      // of the banded-MinHash path, same shingle definition
      RegisteredQuery(
        "q_ngram_jaccard",
        (s, dir) => graft.text.JaccardJoin.selfJoin(
            Tables.resolve(s, dir)("documents"), "doc_id", "text")
          .orderBy("id_a", "id_b"),
        Some(graft.text.JaccardJoin.oracleSql("documents", "doc_id", "text"))),

      // incremental near-dup: batch bands equi-joined against the STORE's
      // kept bands (no re-banding of history, no batch×store product) —
      // the steady-state continuous-ingestion shape of q_dedup_minhash;
      // oracle rebuilds the cross-frame candidates from the SAME band CTEs
      RegisteredQuery(
        "q_minhash_incremental",
        (s, dir) => {
          import org.apache.spark.sql.functions.{lit, pmod}
          val docs = Tables.resolve(s, dir)("documents")
          Dedup.minhashPairsAgainstStore(
              docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
              docs.where(pmod(col("doc_id"), lit(7)) === 0),
              "text", "doc_id")
            .orderBy("batch_id", "store_id")
        },
        Some(Dedup.minhashIncrementalOracle("documents", "doc_id", "text",
          batchWhereSql = "doc_id % 7 != 0", storeWhereSql = "doc_id % 7 = 0"))),

      // keep-best exact dedup: NEWEST copy survives (score = doc_id as a
      // recency stand-in — deliberately the opposite of dedupExact's
      // keep-min so the gate pins the score ordering, not the tiebreak)
      RegisteredQuery(
        "q_dedup_keep_best",
        (s, dir) => Dedup.dedupKeepBest(Tables.resolve(s, dir)("documents"),
            "text", "doc_id", col("doc_id"))
          .select("doc_id", "lang", "n_chars").orderBy("doc_id"),
        Some(Dedup.keepBestOracle("documents", "doc_id", "text",
          scoreSql = "doc_id",
          keepCols = Seq("doc_id", "lang", "n_chars")))),

      // composed corpus-clean flow: lang gate → quality gate → exact dedup,
      // one fused plan, one shuffle (of the gate survivors only)
      RegisteredQuery(
        "q_corpus_clean",
        (s, dir) => graft.llm.CorpusPipeline.clean(Tables.resolve(s, dir)("documents"))
          .select("doc_id", "lang", "n_chars").orderBy("doc_id"),
        Some(graft.llm.CorpusPipeline.cleanOracle("documents"))),

      // SimHash document fingerprint (near-dup bucketing with zero joins)
      RegisteredQuery(
        "q_dedup_simhash",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
          .orderBy("doc_id"),
        Some(Dedup.simhashOracle("documents", "doc_id", "text"))),

      // multimodal payload plumbing: binary column metrics (payload = the
      // document's UTF-8 bytes standing in for an opaque media blob)
      RegisteredQuery(
        "q_multimodal",
        (s, dir) => {
          import graft.llm.Multimodal._
          val payload = org.apache.spark.sql.functions.encode(col("text"), "UTF-8")
          Tables.resolve(s, dir)("documents").select(
            col("doc_id"),
            nBytes(payload).as("n_bytes"),
            contentHash(payload).as("content_hash"),
            b64Head(payload, 24).as("b64_head"))
            .orderBy("doc_id")
        },
        Some("SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash, " +
          "substr(to_base64(encode(text)), 1, 24) AS b64_head FROM documents ORDER BY doc_id")),

      // multimodal header introspection: magic-byte MIME sniffing + PNG IHDR
      // dimension parsing over synthetic container payloads (per-doc format
      // rotation; PNG headers carry real width/height words)
      RegisteredQuery(
        "q_media_sniff",
        (s, dir) => {
          import graft.llm.Multimodal._
          import org.apache.spark.sql.functions._
          val pngHdr = "89504E470D0A1A0A0000000D49484452" // magic + IHDR len/type
          val png = concat(unhex(lit(pngHdr)),
            unhex(lpad(hex(col("n_chars")), 8, "0")),
            unhex(lpad(hex(pmod(col("doc_id"), lit(4096))), 8, "0")))
          val jpeg = concat(unhex(lit("FFD8FFE0")), encode(col("text"), "UTF-8"))
          val wav = concat(unhex(lit("52494646")),
            unhex(lpad(hex(col("n_chars")), 8, "0")), unhex(lit("57415645")))
          val payload = when(pmod(col("doc_id"), lit(4)) === 0, png)
            .when(pmod(col("doc_id"), lit(4)) === 1, jpeg)
            .when(pmod(col("doc_id"), lit(4)) === 2, wav)
            .otherwise(encode(col("text"), "UTF-8"))
          Tables.resolve(s, dir)("documents").select(
              col("doc_id"),
              sniffMime(payload).as("mime"),
              mediaKind(payload).as("kind"),
              pngWidth(payload).as("png_w"),
              pngHeight(payload).as("png_h"),
              nBytes(payload).as("n_bytes"))
            .orderBy("doc_id")
        },
        Some {
          import graft.llm.Multimodal._
          val pngHdr = "89504E470D0A1A0A0000000D49484452"
          val png = s"unhex('$pngHdr') || unhex(lpad(hex(n_chars),8,'0')) || " +
            "unhex(lpad(hex(doc_id%4096),8,'0'))"
          val jpeg = "unhex('FFD8FFE0') || encode(text)"
          val wav = "unhex('52494646') || unhex(lpad(hex(n_chars),8,'0')) || unhex('57415645')"
          val p = s"CASE doc_id%4 WHEN 0 THEN $png WHEN 1 THEN $jpeg WHEN 2 THEN $wav ELSE encode(text) END"
          s"""WITH pay AS (SELECT doc_id, $p AS p FROM documents)
SELECT doc_id, ${sniffMimeSql("p")} AS mime, ${mediaKindSql("p")} AS kind,
  ${pngWidthSql("p")} AS png_w, ${pngHeightSql("p")} AS png_h,
  octet_length(p) AS n_bytes FROM pay ORDER BY doc_id""".stripMargin
        }),

      // text quality metrics bundle
      RegisteredQuery(
        "q_text_quality",
        (s, dir) => {
          val t = col("text")
          Tables.resolve(s, dir)("documents").select(
            col("doc_id"),
            nTokens(t).cast(LongType).as("n_tokens"),
            nDistinctTokens(t).cast(LongType).as("n_distinct"),
            stopwordRatio(t).as("stop_ratio"),
            meanTokenLen(t).as("mean_tok_len"))
            .orderBy("doc_id")
        },
        Some(qualityOracle("documents", "doc_id", "text"))),

      // Gopher-style quality rule bundle: the published web-corpus
      // heuristics (word count / mean token length / symbol ratio / alpha
      // fraction / stopword floor) integerized so every threshold compare
      // is exact cross-engine — scan-stage arithmetic, zero shuffle
      RegisteredQuery(
        "q_quality_rules",
        (s, dir) => graft.text.CorpusFilters.gopherFlags(
            Tables.resolve(s, dir)("documents"),
            "text", Registry.GateGopherRules)
          .select("doc_id", "words_ok", "mean_len_ok", "symbol_ok",
            "alpha_ok", "stopword_ok", "keep")
          .orderBy("doc_id"),
        Some(graft.text.CorpusFilters.gopherFlagsSql(
          "documents", "doc_id", "text", Registry.GateGopherRules))),

      // token counting: whitespace + BPE-ish regex (word runs + punctuation)
      RegisteredQuery(
        "q_token_count",
        (s, dir) => {
          val t = col("text")
          Tables.resolve(s, dir)("documents").select(
            col("doc_id"),
            nTokens(t).cast(LongType).as("n_ws_tokens"),
            approxBpeCount(t).cast(LongType).as("n_bpe_tokens"))
            .orderBy("doc_id")
        },
        Some("SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens, " +
          raw"len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\s]')) AS n_bpe_tokens " +
          "FROM documents ORDER BY doc_id")),

      // Misra-Gries heavy hitters per group: bounded k-counter summaries
      // merged map-side — shuffle carries ≤k counters per (group,
      // partition) regardless of item cardinality, where GROUP BY count
      // shuffles every distinct key. Gate runs the exact regime (distinct
      // langs ≤ k ⇒ no decrement fires ⇒ counts exact); the approximation
      // guarantees are FreqSketchSpec's adversarial-stream cases
      RegisteredQuery(
        "q_freq_items",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          // exact-regime precondition: if the data generator ever widens
          // lang cardinality past k, this gate would silently compare an
          // approximate sketch against exact GROUP BY counts and fail
          // confusingly — surface that as a clear precondition error
          // memoized per dataset dir: the check is one small aggregation,
          // but gates run repeatedly (bench passes) and the answer is a
          // property of the files, not the run
          val maxDistinct = memoPrecondition("freqItems", dir) {
            import org.apache.spark.sql.functions.{countDistinct, max}
            val row = docs.groupBy("source")
              .agg(countDistinct(col("lang")).as("d")).agg(max(col("d"))).head
            if (row.isNullAt(0)) 0L else row.getLong(0) // empty table: trivially fine
          }
          require(maxDistinct <= 32,
            s"q_freq_items exact-regime precondition broken: a source has " +
              s"$maxDistinct distinct langs > k=32; counts would be approximate")
          graft.functions.FreqItems.perGroup(
              docs, Seq("source"), col("lang"), k = 32, top = 2)
            .orderBy("source", "rank")
        },
        Some("SELECT source, CAST(rnk AS BIGINT) AS rank, item, cnt FROM (" +
          "SELECT source, lang AS item, count(*) AS cnt, " +
          "row_number() OVER (PARTITION BY source ORDER BY count(*) DESC, lang ASC) AS rnk " +
          // NULL items are skipped by the sketch (FreqSketch contract)
          "FROM documents WHERE lang IS NOT NULL GROUP BY source, lang) " +
          "WHERE rnk <= 2 ORDER BY source, rank")),

      // bloom-prefiltered incremental dedup: same exact semantics as
      // q_dedup_incremental (bloom positives verified by the anti-join, no
      // false negatives exist), but bloom-negative rows — in steady state
      // nearly the whole batch — bypass the store join's shuffle entirely;
      // the oracle is the plain incremental definition, proving the bloom
      // routing layer changes nothing
      RegisteredQuery(
        "q_dedup_bloom",
        (s, dir) => {
          import org.apache.spark.sql.functions.{lit, pmod}
          val docs = Tables.resolve(s, dir)("documents")
          val store = docs.where(pmod(col("doc_id"), lit(7)) === 0)
            .select(fingerprint(col("text")).as("fp")).distinct()
          graft.llm.Dedup.dedupIncrementalBloom(docs, store, "text", "doc_id",
            expectedStoreItems = 4096, fpp = 0.03)
            .select("doc_id", "lang", "n_chars").orderBy("doc_id")
        },
        Some(graft.llm.Dedup.incrementalOracle(
          "documents", "doc_id", "text",
          storeWhereSql = "doc_id % 7 = 0",
          keepCols = Seq("doc_id", "lang", "n_chars")))),

      // bottom-k (KMV) sketch per language: custom Aggregator with map-side
      // partial merge — shuffle carries ≤k hashes per (group, partition),
      // where the window formulation would shuffle-and-sort every row
      RegisteredQuery(
        "q_bottomk_sketch",
        (s, dir) => {
          import org.apache.spark.sql.functions.posexplode
          Tables.resolve(s, dir)("documents")
            .groupBy(col("lang"))
            .agg(graft.functions.BottomK(8)(fingerprint(col("text"))).as("sk"))
            .select(col("lang"), posexplode(col("sk")).as(Seq("pos", "h")))
            .select(col("lang"), (col("pos") + 1).cast(LongType).as("rank"), col("h"))
            .orderBy("lang", "rank")
        },
        Some("SELECT lang, rank, h FROM (SELECT lang, " +
          "CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS h, " +
          "row_number() OVER (PARTITION BY lang ORDER BY CAST(('0x'||substr(md5(text),1,15)) AS BIGINT)) AS rank " +
          "FROM documents) WHERE rank <= 8 ORDER BY lang, rank")),

      // KMV distinct-count estimate per language: DISTINCT bottom-k sketch
      // (map-side ≤k values per group) + the (k-1)·m/h_k estimator — a
      // deterministic approximate-distinct whose arithmetic an independent
      // engine replays exactly (unlike RNG-seeded HLL)
      RegisteredQuery(
        "q_distinct_estimate",
        (s, dir) => {
          import org.apache.spark.sql.functions.size
          val m60 = 1L << 60 // fingerprint() is uniform in [0, 2^60)
          Tables.resolve(s, dir)("documents")
            .groupBy(col("lang"))
            .agg(graft.functions.BottomK.distinct(16)(fingerprint(col("text"))).as("sk"))
            .select(col("lang"),
              graft.functions.BottomK.kmvEstimate(col("sk"), 16, m60).as("est_distinct"),
              size(col("sk")).cast(LongType).as("sk_size"))
            .orderBy("lang")
        },
        Some(s"""WITH h AS (SELECT DISTINCT lang, CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS hv FROM documents),
r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn FROM h),
agg AS (SELECT lang, count(*) AS nd, max(CASE WHEN rn = 16 THEN hv END) AS hk FROM r GROUP BY lang)
SELECT lang, CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE) ELSE 15.0 * ${1L << 60} / CAST(hk AS DOUBLE) END AS est_distinct,
  CASE WHEN nd < 16 THEN nd ELSE 16 END AS sk_size FROM agg ORDER BY lang""".stripMargin)),

      // TF-IDF integer core: per-(doc, term) tf + per-term df + corpus N
      RegisteredQuery(
        "q_tfidf_stats",
        (s, dir) => graft.text.TfIdf.tfIdf(Tables.resolve(s, dir)("documents"))
          .select("doc_id", "term", "tf", "df", "n_docs"),
        Some(graft.text.TfIdf.statsOracle("documents"))),

      // whole-document + content-defined rolling fingerprints
      RegisteredQuery(
        "q_fingerprint",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"),
            fingerprint(col("text")).as("fp"),
            rollingFingerprint(col("text")).as("rolling_fp"))
          .orderBy("doc_id"),
        Some(fingerprintOracle("documents", "doc_id", "text"))),

      // n-gram heuristic language ID
      RegisteredQuery(
        "q_lang_id",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
        Some(langIdOracle("documents", "doc_id", "lang", "text"))),

      // tracking-parameter strip (utm_*/click-ids vary per LINK, not per
      // page — left in, URL dedup collapses nothing): canonicalize then
      // filter the sorted param array, all scan-stage
      RegisteredQuery(
        "q_url_tracking",
        (s, dir) => {
          import org.apache.spark.sql.functions.{col, concat, lit}
          val idS = col("doc_id").cast("string")
          val u = concat(lit("https://WWW."), col("source"),
            lit(".example.com/p/"), idS,
            lit("?utm_source=feed&z=1&gclid="), idS, lit("&id="), idS, lit("#f"))
          Tables.resolve(s, dir)("documents").select(
              col("doc_id"),
              graft.text.Urls.stripTrackingParams(
                graft.text.Urls.canonicalizeUrl(u)).as("dedup_url"))
            .orderBy("doc_id")
        },
        Some {
          val urlSql = "'https://WWW.' || source || '.example.com/p/' || doc_id" +
            " || '?utm_source=feed&z=1&gclid=' || doc_id || '&id=' || doc_id || '#f'"
          s"SELECT doc_id, ${graft.text.Urls.stripTrackingSql(
            graft.text.Urls.canonicalizeSql(urlSql))} AS dedup_url " +
            "FROM documents ORDER BY doc_id"
        }),

      // character-class composition (encoding-noise screen): scan-stage
      // delete-and-measure regex counts, n_other derived
      RegisteredQuery(
        "q_char_classes",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"), charClassCounts(col("text")).as("c"))
          .select(col("doc_id"), col("c.n_chars"), col("c.n_alpha"),
            col("c.n_digit"), col("c.n_space"), col("c.n_other"))
          .orderBy("doc_id"),
        Some(charClassOracle("documents", "doc_id", "text"))),

      // language-ID confidence margin: top marker count minus runner-up
      // (0 = tie or markerless — route to review, don't trust the label)
      RegisteredQuery(
        "q_lang_margin",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"), langId(col("text")).as("lang_pred"),
            langIdMargin(col("text")).as("margin"))
          .orderBy("doc_id"),
        Some(langMarginOracle("documents", "doc_id", "text"))),

      // small-file compaction: fragmented partitions rewrite to one file
      // through the staged crash discipline; content is bit-identical
      // (the oracle hashes it) — a physical re-layout, never semantic
      RegisteredQuery(
        "q_lake_compact",
        (s, dir) => {
          import org.apache.spark.sql.functions.col
          val lake = freshStore(s, "lake_compact")
          Tables.resolve(s, dir)("orders")
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
            .repartition(16) // deliberately fragment every partition
            .write.partitionBy("o_orderpriority").parquet(lake)
          graft.sources.LakeCompact.compact(s, lake,
            Seq("o_orderpriority"), targetBytes = 64L * 1024 * 1024)
          s.read.parquet(lake)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
            .orderBy("o_orderkey")
        },
        Some("SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders " +
          "ORDER BY o_orderkey")),

      // per-group rank normalization: scores comparable across groups
      // whose raw scales differ — exact ⌊SCALE·(rank−1)/(n−1)⌋ over a
      // (value, id) total order; one group shuffle, spill-backed sort
      RegisteredQuery(
        "q_rank_normalize",
        (s, dir) => graft.operators.QuantileNormalize.rankNormalize(
            Tables.resolve(s, dir)("documents")
              .select(col("doc_id"), col("lang"), col("n_chars")),
            Seq("lang"), "n_chars", "doc_id")
          .orderBy("doc_id"),
        Some(graft.operators.QuantileNormalize.rankNormalizeOracle(
          "documents", Seq("lang"), "n_chars", "doc_id",
          selectCols = Seq("doc_id", "lang", "n_chars")))),

      // copy-on-write DELETE by key (right-to-be-forgotten / retention):
      // only partitions holding deleted keys rewrite; fully-deleted
      // partitions evacuate through the same staged crash discipline
      RegisteredQuery(
        "q_lake_delete",
        (s, dir) => {
          import graft.sources.LakeMerge
          import org.apache.spark.sql.functions.col
          val lake = freshStore(s, "lake_delete")
          val orders = Tables.resolve(s, dir)("orders")
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          LakeMerge.merge(s, lake, orders,
            keyCols = Seq("o_orderkey"), partitionCols = Seq("o_orderpriority"))
          LakeMerge.delete(s, lake,
            orders.where(col("o_orderkey") % 5 === 0).select("o_orderkey"),
            keyCols = Seq("o_orderkey"), partitionCols = Seq("o_orderpriority"))
          s.read.parquet(lake)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
            .orderBy("o_orderkey")
        },
        Some("SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders " +
          "WHERE o_orderkey % 5 <> 0 ORDER BY o_orderkey")),

      // discovered behavioral paths: top event-type trigrams over bounded
      // per-user prefixes (FirstK) — between the transition matrix (k=2)
      // and predefined funnels; deterministic TakeOrdered top-N
      RegisteredQuery(
        "q_event_paths",
        (s, dir) => graft.llm.EventPaths.topPaths(
          Tables.resolve(s, dir)("events"),
          pathLen = 3, maxEvents = 8, topN = 25),
        Some(graft.llm.EventPaths.topPathsOracle(
          "events", pathLen = 3, maxEvents = 8, topN = 25))),

      // token-distribution drift between corpus slices: PSI over the
      // reference's top-V vocabulary + <oov>, sharing Drift's quantized-ln
      // math — V+1 rows whatever the corpus size
      RegisteredQuery(
        "q_vocab_drift",
        (s, dir) => {
          val d = Tables.resolve(s, dir)("documents")
          graft.text.VocabDrift.vocabDrift(
              d.where(col("lang") === "en"), d.where(col("lang") === "fr"),
              "text", vocabSize = 50)
            .orderBy("bucket")
        },
        Some(graft.text.VocabDrift.vocabDriftOracle(
          "SELECT * FROM documents WHERE lang = 'en'",
          "SELECT * FROM documents WHERE lang = 'fr'",
          "text", vocabSize = 50))),

      // per-doc n-gram novelty vs a reference corpus (graded sibling of
      // decontamination): fraction of distinct grams the reference never
      // saw — broadcast gram-set membership, one per-doc aggregate
      RegisteredQuery(
        "q_novelty",
        (s, dir) => {
          val d = Tables.resolve(s, dir)("documents")
          graft.llm.Novelty.noveltyScores(
              d, d.where(col("source") === "src0"), "doc_id", "text", "text")
            .orderBy("doc_id")
        },
        Some(graft.llm.Novelty.noveltyOracle(
          "documents", "SELECT * FROM documents WHERE source = 'src0'",
          "doc_id", "text", "text"))),

      // leakage-free train/val split: near-dup cluster members hash to
      // the SAME side (keyed on the component representative), so no
      // training document's near-duplicate leaks into validation
      RegisteredQuery(
        "q_leakage_split",
        (s, dir) => graft.llm.LeakageSplit.leakageFreeSplit(
            Tables.resolve(s, dir)("documents"), "text", "doc_id", trainPct = 80)
          .orderBy("doc_id"),
        Some(graft.llm.LeakageSplit.splitOracle(
          "documents", "doc_id", "text", trainPct = 80))),

      // corpus-overlap matrix: exact shingle-set Jaccard between SOURCES
      // (feed-level overlap that decides acquisition/mixing policy) — one
      // partial-agg'd (source, fingerprint) distinct + 8-byte-keyed
      // intersection join; |sources|-sized matrix
      RegisteredQuery(
        "q_source_overlap",
        (s, dir) => graft.text.SourceOverlap.overlapMatrix(
            Tables.resolve(s, dir)("documents"), "source", "text")
          .orderBy("src_a", "src_b"),
        Some(graft.text.SourceOverlap.overlapOracle("documents", "source", "text"))),

      // blocked record linkage (Fellegi-Sunter integer weights): candidate
      // pairs from a (nation, segment) blocking equi-join — never a
      // cartesian — scored by null-safe field agreement, scan-stage
      RegisteredQuery(
        "q_record_linkage",
        (s, dir) => {
          import graft.operators.RecordLinkage
          import org.apache.spark.sql.functions.{col, expr, lit, pmod}
          val c = Tables.resolve(s, dir)("customer")
          // the bucket division truncates toward zero in both engines
          def side(par: Int) = c
            .where(pmod(col("c_custkey"), lit(2)) === par)
            .withColumn("bal_c", cents("c_acctbal"))
            .withColumn("bal_bucket", ExactDiv.quot(col("bal_c"), lit(100000L)))
            .withColumn("bal_sign", expr("cast(signum(bal_c) as bigint)"))
          RecordLinkage.score(side(0), side(1),
              blockOn = Seq("c_nationkey" -> "c_nationkey"),
              fields = Seq(
                RecordLinkage.FieldCompare("c_mktsegment", "c_mktsegment", 3L, -1L),
                RecordLinkage.FieldCompare("bal_bucket", "bal_bucket", 5L, -1L),
                RecordLinkage.FieldCompare("bal_sign", "bal_sign", 1L, -1L)),
              aKey = "c_custkey", bKey = "c_custkey", minScore = 1L)
            .orderBy("a_key", "b_key")
        },
        Some {
          def sideSql(par: Int) =
            "SELECT c_custkey, c_nationkey, c_mktsegment, " +
              s"${ExactDiv.quotSql("bal_c", "100000")} AS bal_bucket, " +
              "CAST(sign(bal_c) AS BIGINT) AS bal_sign FROM " +
              s"(SELECT *, ${centsSql("c_acctbal")} AS bal_c " +
              s"FROM customer WHERE c_custkey % 2 = $par)"
          graft.operators.RecordLinkage.scoreOracle(sideSql(0), sideSql(1),
            blockOn = Seq("c_nationkey" -> "c_nationkey"),
            fields = Seq(
              graft.operators.RecordLinkage.FieldCompare("c_mktsegment", "c_mktsegment", 3L, -1L),
              graft.operators.RecordLinkage.FieldCompare("bal_bucket", "bal_bucket", 5L, -1L),
              graft.operators.RecordLinkage.FieldCompare("bal_sign", "bal_sign", 1L, -1L)),
            aKey = "c_custkey", bKey = "c_custkey", minScore = 1L)
        }),

      // intra-document repetition metrics (Gopher repetition-rule layer):
      // top-word count + duplicated bi/tri-gram occurrences, all per-row
      // scan-stage array arithmetic — zero shuffle
      RegisteredQuery(
        "q_repetition",
        (s, dir) => graft.text.Repetition.metrics(
            Tables.resolve(s, dir)("documents"), "doc_id", "text")
          .orderBy("doc_id"),
        Some(graft.text.Repetition.metricsOracle("documents", "doc_id", "text"))),

      // per-domain boilerplate line removal (CCNet/RefinedWeb shape): a
      // line in >= minDocs distinct docs of a source is stripped from ALL
      // of them; partial-agg'd distinct-doc rule on 60-bit line
      // fingerprints, boilerplate-sized rule join, doc-bounded reassembly
      RegisteredQuery(
        "q_boilerplate_clean",
        (s, dir) => graft.text.Boilerplate.removeFrequentLines(
            linedDocs(Tables.resolve(s, dir)("documents")),
            "doc_id", "text", "source", minDocs = 20)
          .orderBy("doc_id"),
        Some(graft.text.Boilerplate.removeOracle(
          "documents", "doc_id", "source", LinedTextSql,
          minDocs = 20, sepSql = "chr(10)", textAlias = "text"))),

      // the audit twin: which lines would be stripped, with distinct-doc
      // counts — review before you clean
      RegisteredQuery(
        "q_boilerplate_lines",
        (s, dir) => graft.text.Boilerplate.frequentLines(
            linedDocs(Tables.resolve(s, dir)("documents")),
            "doc_id", "text", "source", minDocs = 20)
          .orderBy("source", "line"),
        Some(graft.text.Boilerplate.frequentOracle(
          "documents", "doc_id", "source", LinedTextSql,
          minDocs = 20, sepSql = "chr(10)"))),

      // exact Gini concentration (rank-based inequality beside the HHI):
      // range-exchange dense rank, one grand aggregate of exact decimal
      // moments, one truncating division
      RegisteredQuery(
        "q_gini",
        (s, dir) => {
          import org.apache.spark.sql.functions.col
          val rev = Tables.resolve(s, dir)("orders")
            .groupBy(col("o_custkey"))
            .agg(org.apache.spark.sql.functions.sum(
              cents("o_totalprice"))
              .as("rev_c"))
          graft.operators.Gini.gini(rev, "rev_c", "o_custkey")
        },
        Some(graft.operators.Gini.giniOracle(
          s"(SELECT o_custkey, CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_c " +
            "FROM orders GROUP BY 1)",
          "rev_c", "o_custkey"))),

      // one-pass table profile (DESCRIBE at corpus scale): per column,
      // row/null counts + exact-replayable KMV distinct estimate from a
      // single grand aggregate
      RegisteredQuery(
        "q_table_profile",
        (s, dir) => graft.operators.Profiling.tableProfile(
            Tables.resolve(s, dir)("documents"),
            Seq("doc_id", "text", "lang", "source", "n_chars"), k = 64)
          .orderBy("col_name"),
        Some(graft.operators.Profiling.tableProfileOracle(
          "documents", Seq("doc_id", "text", "lang", "source", "n_chars"), k = 64))),

      // subset dedup: drop documents wholly contained in a larger
      // survivor (the cleanup policy the containment join feeds)
      RegisteredQuery(
        "q_subset_clean",
        (s, dir) => graft.text.ContainmentJoin.dropContained(
            Tables.resolve(s, dir)("documents"), "doc_id", "text",
            n = 3, minNum = 4, minDen = 5)
          .orderBy("doc_id"),
        Some(graft.text.ContainmentJoin.dropContainedOracle(
          "documents", "doc_id", "text",
          keepCols = Seq("doc_id", "text", "lang", "source", "n_chars"),
          n = 3, minNum = 4, minDen = 5))),

      // linkage normalization keys: canonical name form, digits-only,
      // consonant skeleton, blocking prefix — scan-stage portable regex
      RegisteredQuery(
        "q_linkage_keys",
        (s, dir) => {
          import org.apache.spark.sql.functions.col
          import graft.operators.LinkageKeys._
          Tables.resolve(s, dir)("customer").select(
              col("c_custkey"),
              normName(col("c_name")).as("norm_name"),
              digitsOnly(col("c_name")).as("digits"),
              skeleton(col("c_name")).as("skel"),
              prefixKey(col("c_name"), 4).as("pfx"))
            .orderBy("c_custkey")
        },
        Some {
          import graft.operators.LinkageKeys._
          "SELECT c_custkey, " +
            s"${normNameSql("c_name")} AS norm_name, " +
            s"${digitsOnlySql("c_name")} AS digits, " +
            s"${skeletonSql("c_name")} AS skel, " +
            s"${prefixKeySql("c_name", 4)} AS pfx " +
            "FROM customer ORDER BY c_custkey"
        }),

      // maintained top-k leaderboard: high-water per-group ranking folded
      // batch by batch (max is idempotent — fold ≡ direct, replay-safe);
      // store merge is groups×k-sized, never history
      RegisteredQuery(
        "q_topk_store",
        (s, dir) => {
          import org.apache.spark.sql.functions.col
          import graft.operators.TopKStore
          val store = freshStore(s, "topk_store")
          val o = Tables.resolve(s, dir)("orders")
          val cuts = Seq("1994-01-01", "1996-06-01")
          Seq(
            o.where(col("o_orderdate") < cuts(0)),
            o.where(col("o_orderdate") >= cuts(0) && col("o_orderdate") < cuts(1)),
            o.where(col("o_orderdate") >= cuts(1))
          ).foreach(b => TopKStore.update(s, store, b,
            Seq("o_orderpriority"), col("o_totalprice"), col("o_custkey"), k = 10))
          TopKStore.read(s, store).orderBy("o_orderpriority", "rank")
        },
        Some(graft.operators.TopKStore.oracleSql(
          "orders", Seq("o_orderpriority"), "o_totalprice", "o_custkey", k = 10))),

      // score-decile lift/calibration table: exact NTILE buckets (no
      // global window) + quantized observed rate and lift vs base rate
      RegisteredQuery(
        "q_lift_table",
        (s, dir) => {
          import org.apache.spark.sql.functions.col
          graft.operators.Calibration.liftTable(
              Tables.resolve(s, dir)("orders")
                .withColumn("price_c", cents("o_totalprice")),
              "price_c", "o_orderkey", col("o_orderstatus") === "F", k = 10)
            .orderBy("bucket")
        },
        Some(graft.operators.Calibration.liftOracle(
          "orders", centsSql("o_totalprice"),
          "o_orderkey", "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END", k = 10))),

      // sorted-neighborhood linkage blocking: rank via the global-sort-
      // free dense index, O(n·w) candidates from a rank-block equi-join
      RegisteredQuery(
        "q_sorted_neighborhood",
        (s, dir) => {
          graft.operators.SortedNeighborhood.candidates(
              Tables.resolve(s, dir)("customer")
                .withColumn("bal_c", cents("c_acctbal")),
              "c_custkey", "bal_c", w = 3)
            .orderBy("id_a", "id_b")
        },
        Some(graft.operators.SortedNeighborhood.candidatesOracle(
          "customer", "c_custkey",
          centsSql("c_acctbal"), w = 3))),

      // mutual-information cells between two categorical columns: the
      // dependence MEASURE beside q_chisq_cells' TEST — same one-shuffle
      // margins-rebroadcast shape, quantized-ln per observed cell
      RegisteredQuery(
        "q_mutual_info",
        (s, dir) => graft.operators.Contingency.mutualInfoCells(
            Tables.resolve(s, dir)("documents"), "lang", "source")
          .orderBy("lang", "source"),
        Some(graft.operators.Contingency.mutualInfoOracle(
          "documents", "lang", "source"))),

      // time-to-convert distribution for full funnel completers: KLL
      // grand aggregate in the exact regime (converters < 2k)
      RegisteredQuery(
        "q_funnel_latency",
        (s, dir) => graft.llm.EventFunnels.funnelLatency(
          graft.llm.EventFunnels.funnel(
            Tables.resolve(s, dir)("events"),
            steps = Seq("view", "click", "purchase"),
            horizonUs = Some(48L * 3600 * 1000000))),
        Some(graft.llm.EventFunnels.latencyOracle(
          "events", Seq("view", "click", "purchase"),
          horizonUs = Some(48L * 3600 * 1000000)))),

      // pairwise co-occurrence mining (frequently-bought-together): one
      // basket-keyed self-equi-join over distinct (basket, item) with a
      // whale-basket gate — exact integer support counts
      RegisteredQuery(
        "q_cooccurrence",
        (s, dir) => graft.operators.CoOccurrence.pairs(
            Tables.resolve(s, dir)("lineitem"), "l_orderkey", "l_partkey",
            minCount = 2, maxBasket = 100)
          .orderBy("item_a", "item_b"),
        Some(graft.operators.CoOccurrence.pairsOracle(
          "lineitem", "l_orderkey", "l_partkey", minCount = 2, maxBasket = 100))),

      // embedding centroid drift between corpus slices: exact per-dim
      // int8-code sums (cosine of sums = cosine of means, derived
      // downstream) — the embedding-space sibling of vocab drift
      RegisteredQuery(
        "q_embed_drift",
        (s, dir) => {
          import org.apache.spark.sql.functions.{col, pmod, lit}
          val e = Tables.resolve(s, dir)("embeddings")
          graft.llm.EmbeddingOps.centroidSums(
              e.where(pmod(col("vec_id"), lit(2)) === 0),
              e.where(pmod(col("vec_id"), lit(2)) === 1), "embedding")
            .orderBy("dim")
        },
        Some(graft.llm.EmbeddingOps.centroidSumsOracle(
          "SELECT * FROM embeddings WHERE vec_id % 2 = 0",
          "SELECT * FROM embeddings WHERE vec_id % 2 = 1", "embedding"))),

      // RFM customer-value segmentation: per-entity recency/frequency/
      // monetary, each exact-NTILE'd without a global sort (three range
      // exchanges + dense index), 1..k scores with recency inverted
      RegisteredQuery(
        "q_rfm",
        (s, dir) => {
          graft.operators.Rfm.rfmScores(
              Tables.resolve(s, dir)("orders"), "o_custkey", "o_orderdate",
              cents("o_totalprice"), k = 5)
            .orderBy("o_custkey")
        },
        Some(graft.operators.Rfm.rfmOracle(
          "orders", "o_custkey", "o_orderdate",
          centsSql("o_totalprice"), k = 5))),

      // exact containment join (quotation / wholesale-inclusion detector —
      // the asymmetric pairs Jaccard and MinHash both miss): smaller-side
      // prefix filtering, exact verify, cross-multiplied threshold
      RegisteredQuery(
        "q_containment",
        (s, dir) => graft.text.ContainmentJoin.selfJoin(
            Tables.resolve(s, dir)("documents"), "doc_id", "text",
            n = 3, minNum = 4, minDen = 5)
          .orderBy("id_a", "id_b"),
        Some(graft.text.ContainmentJoin.oracleSql(
          "documents", "doc_id", "text", n = 3, minNum = 4, minDen = 5))),

      // web-markup cleanliness signals (extraction-quality screen): tag/
      // entity/URL/code-char counts over deterministically injected
      // markup — scan-stage portable regex, zero shuffle
      RegisteredQuery(
        "q_markup_signals",
        (s, dir) => {
          import org.apache.spark.sql.functions._
          val idS = col("doc_id").cast("string")
          // concat_ws on BOTH sides (never NULL whatever text is) — the
          // piiInjected parity rule; a when-wrapper here would null out
          // where the oracle's concat_ws doesn't
          val injected = Tables.resolve(s, dir)("documents")
            .withColumn("text", concat_ws(" ",
              col("text"),
              when(pmod(col("doc_id"), lit(2)) === 0,
                concat(lit("<b class=\"hl\">doc "), idS, lit("</b> &amp; &#39;q&#39;"))),
              when(pmod(col("doc_id"), lit(3)) === 0,
                concat(lit("https://ex"), pmod(col("doc_id"), lit(9)).cast("string"),
                  lit(".org/p/"), idS)),
              when(pmod(col("doc_id"), lit(7)) === 0, lit("{ a; b; }"))))
          graft.text.MarkupSignals.counts(injected, "doc_id", "text")
            .orderBy("doc_id")
        },
        Some(graft.text.MarkupSignals.countsOracle("documents", "doc_id",
          "concat_ws(' ', text, " +
            "CASE WHEN doc_id % 2 = 0 THEN '<b class=\"hl\">doc ' || doc_id || '</b> &amp; &#39;q&#39;' END, " +
            "CASE WHEN doc_id % 3 = 0 THEN 'https://ex' || (doc_id % 9) || '.org/p/' || doc_id END, " +
            "CASE WHEN doc_id % 7 = 0 THEN '{ a; b; }' END)"))),

      // PII audit: per-document pattern-hit counts over deterministically
      // injected identifiers (the synthetic corpus carries none) — pure
      // scan-stage regex, zero shuffle, engine-portable pattern subset
      RegisteredQuery(
        "q_pii_scan",
        (s, dir) => graft.text.Pii.piiCounts(
            piiInjected(Tables.resolve(s, dir)("documents")), "doc_id", "text")
          .orderBy("doc_id"),
        Some(graft.text.Pii.countsOracle("documents", "doc_id", PiiTextSql))),

      // PII redaction: typed placeholders in rule order (email→ip→id→
      // phone) — the redacted-corpus rewrite, scan-stage
      RegisteredQuery(
        "q_pii_redact",
        (s, dir) => graft.text.Pii.redactDocs(
            piiInjected(Tables.resolve(s, dir)("documents")), "doc_id", "text")
          .orderBy("doc_id"),
        Some(graft.text.Pii.redactOracle("documents", "doc_id", PiiTextSql, "text"))),

      // label-vs-prediction confusion matrix for the language detector:
      // off-diagonal mass = labeling or detector error — |langs|²-bounded
      // partial-agg'd pair count
      RegisteredQuery(
        "q_lang_confusion",
        (s, dir) => {
          import org.apache.spark.sql.functions.{count, lit}
          Tables.resolve(s, dir)("documents")
            .groupBy(col("lang"), langId(col("text")).as("lang_pred"))
            .agg(count(lit(1)).as("n"))
            .orderBy("lang", "lang_pred")
        },
        Some(langConfusionOracle("documents", "lang", "text"))),

      // A4 rest: arbitrary exact quantiles through the ADT path (the
      // reference's quantile(p); interpolation matches ANSI PERCENTILE_CONT)
      adt("q_quantile", Select(
        table = "documents",
        columns = Seq(
          Col("lang"),
          Agg(AggFn.Quantile(0.25), Col("n_chars")).as("p25"),
          Agg(AggFn.Quantile(0.5), Col("n_chars")).as("p50"),
          Agg(AggFn.Quantile(0.9), Col("n_chars")).as("p90")),
        groupBy = Seq(Col("lang")),
        orderBy = Seq(Order.asc("lang")))),

      // A4 median through the ADT path (dispatcher_tests.rs:139-151 shape)
      adt("q_median", Select(
        table = "documents",
        columns = Seq(
          Col("lang"),
          Agg(AggFn.Median, Col("n_chars")).as("med_chars"),
          CountStar.as("n_docs")),
        groupBy = Seq(Col("lang")),
        orderBy = Seq(Order.asc("lang")))),

      // brute-force top-k over embeddings: broadcast queries, stream corpus
      RegisteredQuery(
        "q_knn",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 10), k = 5)
            .orderBy("query_id", "rank")
        },
        Some(Similarity.knnOracle("embeddings", "vec_id", "embedding",
          "vec_id < 10", k = 5, dim = 64))),

      // sign-LSH bucketed ANN: equi-join on bucket key, never all-pairs
      RegisteredQuery(
        "q_ann_lsh",
        (s, dir) => Similarity.lshKnn(Tables.resolve(s, dir)("embeddings"), k = 3)
          .orderBy("query_id", "rank"),
        Some(Similarity.lshOracle("embeddings", "vec_id", "embedding", k = 3, dim = 64))),

      // embedding-cosine near-dup pairs (bucketed threshold join)
      RegisteredQuery(
        "q_dedup_cosine",
        (s, dir) => Similarity.cosineDupPairs(
            Tables.resolve(s, dir)("embeddings"), minScore = 30000000L)
          .orderBy("left_id", "right_id"),
        Some(Similarity.cosineDupOracle("embeddings", "vec_id", "embedding",
          minScore = 30000000L, dim = 64))),

      // SemDeDup: coarse-quantizer clustering (deterministic sign-pattern
      // centroids, integer-exact assignment) + the paper's upper-triangular
      // within-cluster drop rule — pair comparisons confined to clusters
      RegisteredQuery(
        "q_semantic_dedup",
        (s, dir) => {
          import graft.llm.SemanticDedup
          val cents = SemanticDedup.signCentroids(
            activeDims = Seq(1, 17, 33), dim = 64)
          SemanticDedup.semanticDedup(
              Tables.resolve(s, dir)("embeddings"), cents, minScore = 30000000L)
            .orderBy("vec_id")
        },
        Some(graft.llm.SemanticDedup.oracle(
          "embeddings", "vec_id", "embedding",
          graft.llm.SemanticDedup.signCentroids(Seq(1, 17, 33), dim = 64),
          minScore = 30000000L, dim = 64))),

      // tumbling event-time window aggregation (decimal-sum determinism)
      RegisteredQuery(
        "q_events_window",
        (s, dir) => EventWindows.tumbling(Tables.resolve(s, dir)("events"))
          .orderBy("w_start", "event_type"),
        Some(EventWindows.tumblingOracle("events"))),

      // per-user session windows (built-in session_window, batch mode)
      RegisteredQuery(
        "q_events_session",
        (s, dir) => EventWindows.sessionized(Tables.resolve(s, dir)("events")),
        Some(EventWindows.sessionizedOracle("events"))),

      // split-and-stitch sessionization: same sessions, whale-key-safe
      // shuffle shape ((user, day-bucket) fan-out + interval stitch) —
      // the SAME oracle proves output ≡ plain session_window
      RegisteredQuery(
        "q_session_split",
        (s, dir) => EventWindows.sessionizedSplit(
          Tables.resolve(s, dir)("events")),
        Some(EventWindows.sessionizedOracle("events"))),

      // inter-arrival burstiness fingerprint (bot/SDK-metronome screen):
      // exact microsecond gap moments per user — one user shuffle
      RegisteredQuery(
        "q_inter_arrival",
        (s, dir) => EventWindows.interArrivalStats(
            Tables.resolve(s, dir)("events"))
          // var_num exceeds 64-bit range in general: hash its canonical
          // decimal string (the portable exact form; oracle matches)
          .withColumn("var_num", col("var_num").cast("string"))
          .orderBy("user_id"),
        Some(EventWindows.interArrivalOracle("events"))),

      // day-of-week × hour activity heatmap: the ops-dashboard staple —
      // one partial-agg'd (dow, hour) rollup with distinct users (engine
      // dow conventions aligned: Spark dayofweek−1 = DuckDB dow)
      RegisteredQuery(
        "q_activity_heatmap",
        (s, dir) => {
          import org.apache.spark.sql.functions._
          Tables.resolve(s, dir)("events")
            .where(col("ts").isNotNull)
            .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
              hour(col("ts")).cast("long").as("hour"))
            .agg(count(lit(1)).as("n_events"),
              count_distinct(col("user_id")).as("n_users"))
            .orderBy("dow", "hour")
        },
        Some("""SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
  CAST(hour(ts) AS BIGINT) AS hour, CAST(count(*) AS BIGINT) AS n_events,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""")),

      // per-user session statistics: sessions, bounce rate (exact
      // quantized ratio), total events, engaged time — one session-sized
      // rollup on top of the session_window aggregate
      RegisteredQuery(
        "q_session_stats",
        (s, dir) => EventWindows.sessionStats(
            Tables.resolve(s, dir)("events"))
          .orderBy("user_id"),
        Some(EventWindows.sessionStatsOracle("events"))),

      // behavioral sequence assembly: first-5 event types per user in
      // strict (ts, event_id) order concatenated to a training-ready
      // string — one user shuffle, ordering inside the aggregated array
      // (no window sort of the raw stream); truncation exercised cross-
      // engine (avg events/user exceeds the cut)
      RegisteredQuery(
        "q_action_sequences",
        (s, dir) => EventWindows.actionSequences(
            Tables.resolve(s, dir)("events"), maxEvents = 5)
          .orderBy("user_id"),
        Some(EventWindows.actionSequencesOracle("events", maxEvents = 5))),

      // range join: purchases inside a ±30min window around an error by the
      // same user — bucketized equi-join encoding (never a nested loop)
      RegisteredQuery(
        "q_range_join",
        (s, dir) => {
          import graft.operators.RangeJoin
          val ev = Tables.resolve(s, dir)("events")
          val purchases = ev.where(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
          val errors = ev.where(col("event_type") === "error")
            .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
              (col("ts") - org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES")).as("w_start"),
              (col("ts") + org.apache.spark.sql.functions.expr("INTERVAL 30 MINUTES")).as("w_end"))
          RangeJoin.intervalJoin(purchases, errors,
              tsCol = "ts", startCol = "w_start", endCol = "w_end",
              on = Seq("user_id" -> "e_user"), bucket = "1 hour")
            .select("purchase_id", "user_id", "ts", "error_id")
            .orderBy("purchase_id", "error_id")
        },
        Some(graft.operators.RangeJoin.intervalOracle(
          leftSql = "SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'",
          rightSql = "SELECT event_id AS error_id, user_id AS e_user, " +
            "ts - INTERVAL 30 MINUTE AS w_start, ts + INTERVAL 30 MINUTE AS w_end " +
            "FROM events WHERE event_type = 'error'",
          tsCol = "ts", startCol = "w_start", endCol = "w_end",
          on = Seq("user_id" -> "e_user"),
          selectSql = "l.purchase_id, l.user_id, l.ts, r.error_id") +
          " ORDER BY purchase_id, error_id")),

      // as-of join: latest click at-or-before each purchase, per user —
      // single-shuffle union+window encoding vs DuckDB's native ASOF JOIN
      RegisteredQuery(
        "q_asof_join",
        (s, dir) => {
          import graft.operators.AsofJoin
          val ev = Tables.resolve(s, dir)("events")
          val purchases = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value")
          val clicks = ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts"),
              col("event_id").as("click_id"), col("value").as("click_value"))
          AsofJoin.asofBackward(purchases, clicks,
              on = Seq("user_id"), ts = "ts",
              payload = Seq("click_id", "click_value"), tieBreak = Some("click_id"))
            .orderBy("event_id")
        },
        Some(AsofJoin.asofOracle("events",
          leftPred = "event_type = 'purchase'", rightPred = "event_type = 'click'",
          key = "user_id", ts = "ts",
          leftCols = Seq("event_id", "user_id", "ts", "value"),
          payload = Seq("event_id" -> "click_id", "value" -> "click_value"),
          tieBreak = Some("event_id")) +
          " ORDER BY event_id")),

      // conversion-window forward as-of: the next click only if it lands
      // within 30 minutes — beyond-window reads as no-conversion
      RegisteredQuery(
        "q_asof_fwd_within",
        (s, dir) => {
          import graft.operators.AsofJoin
          import org.apache.spark.sql.functions.expr
          val ev = Tables.resolve(s, dir)("events")
          val purchases = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value")
          val clicks = ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts"),
              col("event_id").as("click_id"), col("value").as("click_value"))
          AsofJoin.asofForwardWithin(purchases, clicks,
              on = Seq("user_id"), ts = "ts",
              payload = Seq("click_id", "click_value"),
              maxGap = expr("INTERVAL '30' MINUTE"), tieBreak = Some("click_id"))
            .orderBy("event_id")
        },
        Some(AsofJoin.asofForwardWithinOracle("events",
          leftPred = "event_type = 'purchase'", rightPred = "event_type = 'click'",
          key = "user_id", ts = "ts",
          leftCols = Seq("event_id", "user_id", "ts", "value"),
          payload = Seq("event_id" -> "click_id", "value" -> "click_value"),
          maxGapSql = "INTERVAL 30 MINUTE",
          tieBreak = Some("event_id")) +
          " ORDER BY event_id")),

      // staleness-bounded as-of (the feature-store freshness knob): a
      // match older than 30 minutes blanks to NULL — stale beats silent
      RegisteredQuery(
        "q_asof_within",
        (s, dir) => {
          import graft.operators.AsofJoin
          import org.apache.spark.sql.functions.expr
          val ev = Tables.resolve(s, dir)("events")
          val purchases = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value")
          val clicks = ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts"),
              col("event_id").as("click_id"), col("value").as("click_value"))
          AsofJoin.asofBackwardWithin(purchases, clicks,
              on = Seq("user_id"), ts = "ts",
              payload = Seq("click_id", "click_value"),
              maxGap = expr("INTERVAL '30' MINUTE"), tieBreak = Some("click_id"))
            .orderBy("event_id")
        },
        Some(AsofJoin.asofWithinOracle("events",
          leftPred = "event_type = 'purchase'", rightPred = "event_type = 'click'",
          key = "user_id", ts = "ts",
          leftCols = Seq("event_id", "user_id", "ts", "value"),
          payload = Seq("event_id" -> "click_id", "value" -> "click_value"),
          maxGapSql = "INTERVAL 30 MINUTE",
          tieBreak = Some("event_id")) +
          " ORDER BY event_id")),

      // forward as-of: NEXT click at-or-after each purchase (same machinery,
      // window descending) vs DuckDB ASOF with the inequality flipped
      RegisteredQuery(
        "q_asof_forward",
        (s, dir) => {
          import graft.operators.AsofJoin
          val ev = Tables.resolve(s, dir)("events")
          val purchases = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value")
          val clicks = ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts"),
              col("event_id").as("click_id"), col("value").as("click_value"))
          AsofJoin.asofForward(purchases, clicks,
              on = Seq("user_id"), ts = "ts",
              payload = Seq("click_id", "click_value"), tieBreak = Some("click_id"))
            .orderBy("event_id")
        },
        Some(AsofJoin.asofForwardOracle("events",
          leftPred = "event_type = 'purchase'", rightPred = "event_type = 'click'",
          key = "user_id", ts = "ts",
          leftCols = Seq("event_id", "user_id", "ts", "value"),
          payload = Seq("event_id" -> "click_id", "value" -> "click_value"),
          tieBreak = Some("event_id")) +
          " ORDER BY event_id")),

      // nearest as-of: closest click either side, backward preferred on
      // ties — two-pass composition vs the brute min-|Δts| QUALIFY oracle
      RegisteredQuery(
        "q_asof_nearest",
        (s, dir) => {
          import graft.operators.AsofJoin
          val ev = Tables.resolve(s, dir)("events")
          val purchases = ev.where(col("event_type") === "purchase")
            .select("event_id", "user_id", "ts", "value")
          val clicks = ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts"),
              col("event_id").as("click_id"), col("value").as("click_value"))
          AsofJoin.asofNearest(purchases, clicks,
              on = Seq("user_id"), ts = "ts",
              payload = Seq("click_id", "click_value"), tieBreak = Some("click_id"))
            .orderBy("event_id")
        },
        Some(AsofJoin.asofNearestOracle("events",
          leftPred = "event_type = 'purchase'", rightPred = "event_type = 'click'",
          key = "user_id", ts = "ts", leftId = "event_id",
          leftCols = Seq("event_id", "user_id", "ts", "value"),
          payload = Seq("event_id" -> "click_id", "value" -> "click_value"),
          tieBreak = Some("event_id")) +
          " ORDER BY event_id")))
  }

  /** Corpus-preparation operators (SURVEY §2.11 L38+) — dedup clustering,
    * PII scrubbing, deterministic splits, repetition metrics, IVF ANN — the
    * filter/assignment layer between raw scrape and tokenizer.
    */
  val corpusOps: Seq[RegisteredQuery] = {
    import graft.llm.{DedupClusters, IvfIndex, Similarity}
    import graft.text.CorpusFilters
    import graft.text.TextFunctions.fingerprint
    import org.apache.spark.sql.functions._
    val hash60Sql = (e: String) => s"CAST(('0x'||substr(md5($e),1,15)) AS BIGINT)"
    Seq(
      // duplicate-cluster formation: minhash pairs → connected components →
      // one (doc, cluster_rep) row per document; singletons rep themselves
      RegisteredQuery(
        "q_dedup_clusters",
        (s, dir) => DedupClusters.minhashClusters(
            Tables.resolve(s, dir)("documents"), "text", "doc_id")
          .orderBy("doc_id"),
        Some(DedupClusters.clustersOracle("documents", "doc_id", "text"))),

      // IVF ANN at full probe: every inverted list searched ⇒ provably equal
      // to brute-force top-k whatever the (seeded, float-iterative) k-means
      // centroids converged to — which is what makes it oracle-checkable,
      // and why the gate runs the 100 TB build path (k-means trained on a
      // corpus SAMPLE) without losing exactness
      RegisteredQuery(
        "q_ann_ivf",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          IvfIndex.build(emb, nLists = 8, trainFraction = 0.25, maxIter = 3)
            .search(emb.where(col("vec_id") < 8), k = 4, nProbe = 8)
            .orderBy("query_id", "rank")
        },
        Some(Similarity.knnOracle("embeddings", "vec_id", "embedding",
          "vec_id < 8", k = 4, dim = 64))),

      // PII scrubbing: synthetic email/URL/phone appended per doc (the raw
      // corpus has none), then scrub + pre-scrub match counts; the scrubbed
      // text is compared by fingerprint so any byte drift fails the gate
      RegisteredQuery(
        "q_pii_scrub",
        (s, dir) => {
          val aug = concat(col("text"),
            lit(" contact user"), col("doc_id"), lit("@example.com or https://ex.org/d/"),
            col("doc_id"), lit(" tel +1 (415) 555-01"), col("doc_id"))
          Tables.resolve(s, dir)("documents").select(
              col("doc_id"),
              fingerprint(CorpusFilters.scrubPii(aug)).as("scrub_fp"),
              CorpusFilters.nUrls(aug).as("n_urls"),
              CorpusFilters.nEmails(aug).as("n_emails"),
              CorpusFilters.nPhones(aug).as("n_phones"))
            .orderBy("doc_id")
        },
        Some {
          val augSql = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
            "'@example.com or https://ex.org/d/' || CAST(doc_id AS VARCHAR) || " +
            "' tel +1 (415) 555-01' || CAST(doc_id AS VARCHAR)"
          s"""WITH aug AS (SELECT doc_id, $augSql AS t FROM documents)
SELECT doc_id, ${hash60Sql(CorpusFilters.scrubPiiSql("t"))} AS scrub_fp,
  ${CorpusFilters.countSql("t", CorpusFilters.UrlPattern)} AS n_urls,
  ${CorpusFilters.countSql("t", CorpusFilters.EmailPattern)} AS n_emails,
  ${CorpusFilters.countSql("t", CorpusFilters.PhonePattern)} AS n_phones
FROM aug ORDER BY doc_id""".stripMargin
        }),

      // deterministic content-hash train/val split (re-shard/engine stable)
      RegisteredQuery(
        "q_train_split",
        (s, dir) => Tables.resolve(s, dir)("documents").select(
            col("doc_id"),
            CorpusFilters.splitBucket(col("text"), 100).as("bucket"),
            CorpusFilters.splitAssign(col("text"), 95).as("split"))
          .orderBy("doc_id"),
        Some(s"SELECT doc_id, ${CorpusFilters.splitBucketSql("text", 100)} AS bucket, " +
          s"${CorpusFilters.splitAssignSql("text", 95)} AS split " +
          "FROM documents ORDER BY doc_id")),

      // Gopher-style repetition metrics (duplicate-bigram occupancy);
      // renamed r8: the name collided with L158's q_repetition and the
      // queries Map silently kept only one — both now face the driver
      RegisteredQuery(
        "q_repetition_gopher",
        (s, dir) => CorpusFilters.repetitionStats(
            Tables.resolve(s, dir)("documents"), "doc_id", "text")
          .orderBy("doc_id"),
        Some(CorpusFilters.repetitionOracle("documents", "doc_id", "text"))),

      // near-dup cluster keep-best: clusters → best-quality survivor per
      // cluster (slim struct-max reduction + semi-join, not a corpus window)
      RegisteredQuery(
        "q_cluster_clean",
        (s, dir) => DedupClusters.clusterKeepBest(
            Tables.resolve(s, dir)("documents"), "text", "doc_id", col("n_chars"))
          .select("doc_id", "lang", "n_chars").orderBy("doc_id"),
        Some(DedupClusters.clusterKeepBestOracle("documents", "doc_id", "text",
          scoreSql = "d.n_chars", keepCols = Seq("doc_id", "lang", "n_chars")))),

      // deterministic per-stratum mixture sampling (content-hash keyed —
      // stable across re-sharding/engines, evaluated in the scan stage)
      RegisteredQuery(
        "q_sample_stratified",
        (s, dir) => CorpusFilters.stratifiedSample(
            Tables.resolve(s, dir)("documents"),
            key = col("text"), strata = col("lang"),
            rates = Seq("en" -> 60, "de" -> 30), defaultPct = 10)
          .select("doc_id", "lang").orderBy("doc_id"),
        Some("SELECT doc_id, lang FROM documents WHERE " +
          CorpusFilters.stratifiedKeepSql("text", "lang", Seq("en" -> 60, "de" -> 30), 10) +
          " ORDER BY doc_id")),

      // fixed-N per-group sample: lowest-n content-hash ranks per group via
      // the bounded-buffer TopK aggregate (≤n pairs leave each map
      // partition — no window sort of whale groups); hash folded to 53
      // bits so the aggregator's double score orders exactly like the
      // oracle's BIGINT
      RegisteredQuery(
        "q_sample_n_per_group",
        (s, dir) => CorpusFilters.sampleNPerGroup(
            Tables.resolve(s, dir)("documents"),
            Seq("lang"), key = col("text"), id = col("doc_id"), n = 3)
          .select(col("lang"), col("rank").cast("long").as("rank"), col("id"))
          .orderBy("lang", "rank"),
        Some(CorpusFilters.sampleNPerGroupSql(
          "documents", Seq("lang"), "text", "doc_id", n = 3))),

      // global fixed-N sample: lowest-n content-hash ranks corpus-wide via
      // the bounded TopK as a global partial+final aggregate — each map
      // partition ships <=n pairs, no global sort
      RegisteredQuery(
        "q_sample_n",
        (s, dir) => graft.text.CorpusFilters.sampleN(
            Tables.resolve(s, dir)("documents"),
            key = col("text"), id = col("doc_id"), n = 25)
          .select(col("rank"), col("id")).orderBy("rank"),
        Some(graft.text.CorpusFilters.sampleNSql("documents", "text", "doc_id", 25))),

      // curriculum source mixing: per-source quotas over the same bounded
      // hash-rank machinery (k = max quota), quota cut via a broadcast map
      // literal — the "30k web / 10k code / 2k math" mixture assembly step
      RegisteredQuery(
        "q_sample_mix",
        (s, dir) => CorpusFilters.mixSources(
            Tables.resolve(s, dir)("documents"),
            "source", key = col("text"), id = col("doc_id"),
            quotas = Registry.MixQuotas)
          .select(col("source"), col("rank").cast("long").as("rank"), col("id"))
          .orderBy("source", "rank"),
        Some(CorpusFilters.mixSourcesSql(
          "documents", "source", "text", "doc_id", Registry.MixQuotas))),

      // deterministic training-shard assignment: content-hash mod nShards,
      // pure scan-stage arithmetic (zero shuffle) — a document's shard
      // never depends on partitioning or ingestion order, so re-runs never
      // move docs between shards
      RegisteredQuery(
        "q_shard_assign",
        (s, dir) => CorpusFilters.assignShards(
            Tables.resolve(s, dir)("documents"), key = col("text"), nShards = 16)
          .select("doc_id", "shard").orderBy("doc_id"),
        Some("SELECT doc_id, " + CorpusFilters.assignShardsSql("text", 16) +
          " AS shard FROM documents ORDER BY doc_id")),

      // ordered-step funnel (view → click → purchase, 48h first-touch
      // horizon): one-pass sorted fold per user vs the oracle's k-pass
      // iterative-min definition — the gate proves them the same walk
      RegisteredQuery(
        "q_event_funnel",
        (s, dir) => graft.llm.EventFunnels.funnel(
            Tables.resolve(s, dir)("events"),
            steps = Seq("view", "click", "purchase"),
            horizonUs = Some(48L * 3600 * 1000000))
          .orderBy("user_id"),
        Some(graft.llm.EventFunnels.funnelOracle(
          "events", Seq("view", "click", "purchase"),
          horizonUs = Some(48L * 3600 * 1000000)))),

      // int8 embedding quantization: 4× storage cut with integer codes from
      // a fixed IEEE-double formula — bit-identical on any engine/layout.
      // Exploded to (vec_id, pos, code) scalar rows: the harness can't
      // canonicalize array cells, and per-element rows are the stronger
      // cell-by-cell check anyway.
      RegisteredQuery(
        "q_embed_quantize",
        (s, dir) => Tables.resolve(s, dir)("embeddings").select(
            col("vec_id"),
            graft.llm.EmbeddingOps.quantizeInt8(col("embedding")).as("qvec"),
            graft.llm.EmbeddingOps.rangeQ4(col("embedding")).as("m_q4"))
          .select(col("vec_id"), posexplode(col("qvec")), col("m_q4"))
          .select(col("vec_id"), col("pos").cast("long").as("pos"),
            col("col").cast("long").as("code"), col("m_q4")),
        Some(graft.llm.EmbeddingOps.quantizeOracle("embeddings", "vec_id", "embedding"))),

      // IVF over int8 codes at full probe: float-centroid routing +
      // integer-dot scoring on the compressed store — provably equals int8
      // brute force whatever the seeded k-means converged to
      RegisteredQuery(
        "q_ann_ivf_int8",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          graft.llm.IvfIndex.build(emb, nLists = 8, trainFraction = 0.25, maxIter = 3)
            .searchInt8(emb.where(col("vec_id") < 8), k = 4, nProbe = 8)
            .orderBy("query_id", "rank")
        },
        Some(graft.llm.EmbeddingOps.int8KnnOracle(
          "embeddings", "vec_id", "embedding", "vec_id < 8", k = 4, dim = 64))),

      // PQ/ADC over a formulaic grid codebook: the real encode + ADC +
      // bounded-buffer top-k machinery (a codebook is opaque data to those
      // paths), with every float op replayed term-by-term by the oracle —
      // the k-means FIT stays spec-verified (float-iterative)
      RegisteredQuery(
        "q_ann_pq",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          val cb = graft.llm.ProductQuantizer.gridCodebook(
            m = 8, subDim = 8, ksub = 8, lo = -0.5, hi = 0.5)
          val codes = cb.encode(emb, "vec_id", "embedding")
          cb.search(codes, emb.where(col("vec_id") < 8), k = 4)
            .select(col("query_id"), col("rank").cast("long").as("rank"),
              col("neighbor_id"), col("adc_dist"))
            .orderBy("query_id", "rank")
        },
        Some(graft.llm.ProductQuantizer.adcOracle(
          "embeddings", "vec_id", "embedding", "vec_id < 8", k = 4,
          m = 8, subDim = 8, ksub = 8, lo = -0.5, hi = 0.5))),

      // IVF-PQ, the standard big-corpus ANN composition: coarse-centroid
      // routing + ADC over m-byte PQ codes, bounded top-k. Full probe ≡
      // plain ADC search for ANY centroid set, so the same ADC oracle
      // gates the composed operator
      RegisteredQuery(
        "q_ann_ivfpq",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          val cb = graft.llm.ProductQuantizer.gridCodebook(
            m = 8, subDim = 8, ksub = 8, lo = -0.5, hi = 0.5)
          graft.llm.IvfIndex.build(emb, nLists = 8, trainFraction = 0.25, maxIter = 3)
            .searchPq(cb, emb.where(col("vec_id") < 8), k = 4, nProbe = 8)
            .select(col("query_id"), col("rank").cast("long").as("rank"),
              col("neighbor_id"), col("adc_dist"))
            .orderBy("query_id", "rank")
        },
        Some(graft.llm.ProductQuantizer.adcOracle(
          "embeddings", "vec_id", "embedding", "vec_id < 8", k = 4,
          m = 8, subDim = 8, ksub = 8, lo = -0.5, hi = 0.5))),

      // ANN over the COMPRESSED store: int8 codes both sides, exact integer
      // dot, top-k via the bounded-buffer aggregator (no window sort of the
      // scored pairs)
      RegisteredQuery(
        "q_ann_int8",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          graft.llm.EmbeddingOps.int8Knn(emb, emb.where(col("vec_id") < 8), k = 4)
            .orderBy("query_id", "rank")
        },
        Some(graft.llm.EmbeddingOps.int8KnnOracle(
          "embeddings", "vec_id", "embedding", "vec_id < 8", k = 4, dim = 64))),

      // top-k per group via bounded-buffer Aggregator: each map partition
      // ships ≤k (score,id) pairs per group — the window form sorts every
      // row; oracle IS that window form, proving equivalence
      RegisteredQuery(
        "q_topk_per_group",
        (s, dir) => graft.functions.TopK.perGroup(
            Tables.resolve(s, dir)("customer"),
            groupCols = Seq("c_mktsegment"),
            score = col("c_acctbal"), id = col("c_custkey"), k = 3)
          .orderBy("c_mktsegment", "rank"),
        Some(graft.functions.TopK.perGroupOracle(
          "customer", Seq("c_mktsegment"), "c_acctbal", "c_custkey", k = 3))),

      // benchmark decontamination: docs sharing 5-gram hashes with the
      // "benchmark" subset (doc_id % 50 = 0) get flagged; benchmark gram set
      // broadcasts, corpus side never shuffles full-width rows
      RegisteredQuery(
        "q_decontaminate",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          graft.llm.Decontaminate.flag(
              docs, "doc_id", "text",
              bench = docs.where(pmod(col("doc_id"), lit(50)) === 0),
              n = 5, minOverlap = 1)
            .select("doc_id", "lang", "n_overlap", "contaminated")
            .orderBy("doc_id")
        },
        Some(graft.llm.Decontaminate.flagOracle(
          "documents", "doc_id", "text",
          benchWhereSql = "doc_id % 50 = 0", n = 5, minOverlap = 1,
          keepCols = Seq("lang")))),

      // sequence packing: id-ordered token stream chopped into 512-token
      // context windows via two-level prefix sum (no single-task global
      // window); oracle replays the plain global running sum — the gate
      // proves the parallel decomposition exact
      RegisteredQuery(
        "q_pack_sequences",
        (s, dir) => graft.text.Packing.chunkStats(
            Tables.resolve(s, dir)("documents"), "doc_id",
            graft.text.TextFunctions.nTokens(col("text")),
            ctxLen = 512, bucketSize = 64)
          .orderBy("chunk_id"),
        Some(graft.text.Packing.chunkStatsOracle("documents", "doc_id", "text", ctxLen = 512))),

      // END-TO-END corpus preparation: clean → decontaminate → stratified
      // sample as ONE fused plan (one corpus shuffle total); every stage is
      // its own gate-checked operator, this row proves the COMPOSITION
      RegisteredQuery(
        "q_corpus_prepare",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          graft.llm.CorpusPipeline.prepare(
              docs,
              bench = docs.where(pmod(col("doc_id"), lit(50)) === 0))
            .select("doc_id", "lang", "n_chars").orderBy("doc_id")
        },
        Some(graft.llm.CorpusPipeline.prepareOracle(
          "documents", benchWhereSql = "doc_id % 50 = 0"))),

      // fixed-bin histogram: one partial-agg'd pass, ≤nBins rows out
      RegisteredQuery(
        "q_histogram",
        (s, dir) => graft.operators.Profiling.histogram(
            Tables.resolve(s, dir)("lineitem"),
            col("l_extendedprice"), lo = 0.0, hi = 80000.0, nBins = 16)
          .orderBy("bin"),
        Some(graft.operators.Profiling.histogramOracle(
          "lineitem", "l_extendedprice", lo = 0.0, hi = 80000.0, nBins = 16))),

      // per-column ANALYZE-style profile in ONE aggregation pass (long and
      // string columns — doubles are excluded from the gate because the two
      // engines' double→string renderings differ)
      RegisteredQuery(
        "q_profile",
        (s, dir) => graft.operators.Profiling.profile(
            Tables.resolve(s, dir)("customer"),
            Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey"))
          .orderBy("column"),
        Some(graft.operators.Profiling.profileOracle(
          "customer", Seq("c_custkey", "c_name", "c_mktsegment", "c_nationkey")))),

      // declarative data-quality rule set verified in ONE aggregation pass
      // (per-mille thresholds cross-multiplied — integer-exact verdicts);
      // includes a deliberately failing rule so both outcomes are exercised
      RegisteredQuery(
        "q_quality_checks",
        (s, dir) => {
          import graft.operators.QualityChecks._
          check(Tables.resolve(s, dir)("orders"), Seq(
            NotNull("o_orderkey", maxNullPerMille = 0),
            Unique("o_orderkey"),
            InRange("o_totalprice", lo = 0.0, hi = 400000.0, minPerMille = 900),
            InSet("o_orderstatus", Seq("F", "O", "P"), minPerMille = 1000),
            RowCountBetween(1000L, 100000000L)))
            .orderBy("rule", "column", "metric")
        },
        Some(graft.operators.QualityChecks.oracle("orders", Seq(
          graft.operators.QualityChecks.NotNull("o_orderkey", maxNullPerMille = 0),
          graft.operators.QualityChecks.Unique("o_orderkey"),
          graft.operators.QualityChecks.InRange("o_totalprice", 0.0, 400000.0, 900),
          graft.operators.QualityChecks.InSet("o_orderstatus", Seq("F", "O", "P"), 1000),
          graft.operators.QualityChecks.RowCountBetween(1000L, 100000000L))) +
          " ORDER BY rule, \"column\", metric")),

      // Z-order (Morton) value: bit-interleaved two-dimensional clustering
      // key — pure integer shift arithmetic both engines replay exactly
      RegisteredQuery(
        "q_zorder",
        (s, dir) => Tables.resolve(s, dir)("lineitem").select(
            col("l_orderkey"), col("l_linenumber"),
            graft.operators.ZOrder.zValue(
              pmod(col("l_partkey"), lit(4096)),
              pmod(col("l_suppkey"), lit(4096)), bits = 12).as("z"))
          .orderBy("l_orderkey", "l_linenumber"),
        Some("SELECT l_orderkey, l_linenumber, " +
          graft.operators.ZOrder.zValueSql("(l_partkey % 4096)", "(l_suppkey % 4096)", bits = 12) +
          " AS z FROM lineitem ORDER BY l_orderkey, l_linenumber")),

      // integer-arithmetic PageRank over the bidirectional part-supplier
      // graph (supplier ids offset by 1e8 — far above any partkey at
      // realistic SFs, so the two vertex families can never collide):
      // 5 damped power-iteration rounds, every step exact integer
      // (score div outdeg, 85/100 damping) so the unrolled-CTE oracle
      // replays it bit-for-bit
      RegisteredQuery(
        "q_pagerank",
        (s, dir) => {
          val li = Tables.resolve(s, dir)("lineitem")
          val fwd = li.select(col("l_partkey").as("src"),
            (col("l_suppkey") + 100000000L).as("dst")).distinct()
          val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
          graft.operators.GraphRank.pageRankInt(edges, iters = 5).orderBy("id")
        },
        Some(graft.operators.GraphRank.oracleSql(
          """SELECT src, dst FROM (SELECT DISTINCT l_partkey AS src, l_suppkey + 100000000 AS dst FROM lineitem)
  UNION ALL
  SELECT dst AS src, src AS dst FROM (SELECT DISTINCT l_partkey AS src, l_suppkey + 100000000 AS dst FROM lineitem)""",
          iters = 5))),

      // incrementally-maintained aggregate store: three batch folds of
      // partial aggregates must equal one direct aggregate over the union
      // (decomposable merges; DECIMAL sum for cross-engine exactness)
      RegisteredQuery(
        "q_agg_incremental",
        (s, dir) => {
          import graft.operators.IncrementalAgg._
          val store = freshStore(s, "agg_incremental")
          val li = Tables.resolve(s, dir)("lineitem")
            .withColumn("qty_dec", col("l_quantity").cast("decimal(18,6)"))
          val specs = Seq(Count("cnt"), Sum("qty_dec", "sum_qty"),
            Min("l_extendedprice", "min_price"), Max("l_extendedprice", "max_price"))
          (0 until 3).foreach { b =>
            update(s, store, li.where(pmod(col("l_orderkey"), lit(3)) === b),
              Seq("l_returnflag", "l_linestatus"), specs)
          }
          read(s, store)
            .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
              col("sum_qty").cast("double").as("sum_qty"),
              col("min_price"), col("max_price"))
            .orderBy("l_returnflag", "l_linestatus")
        },
        Some("""SELECT l_returnflag, l_linestatus, count(*) AS cnt,
CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""")),

      // streaming metrics ingest, driver-faced: the events table chunked
      // through MetricsIngest.ingestBatch (the exact foreachBatch body) in
      // three micro-batches — final store ≡ one-shot GROUP BY
      RegisteredQuery(
        "q_metrics_ingest",
        (s, dir) => {
          val store = freshStore(s, "metrics_ingest")
          import graft.operators.IncrementalAgg
          val ev = Tables.resolve(s, dir)("events")
            .withColumn("value_dec", col("value").cast("decimal(18,6)"))
          val specs = Seq(IncrementalAgg.Count("n_events"),
            IncrementalAgg.Sum("value_dec", "sum_value"))
          (0 until 3).foreach { b =>
            graft.streaming.MetricsIngest.ingestBatch(
              ev.where(pmod(col("event_id"), lit(3)) === b),
              store, Seq("event_type"), specs)
          }
          IncrementalAgg.read(s, store)
            .select(col("event_type"), col("n_events"),
              col("sum_value").cast("double").as("sum_value"))
            .orderBy("event_type")
        },
        Some("""SELECT event_type, count(*) AS n_events,
CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type ORDER BY event_type""")),

      // streaming CDC lake ingest, driver-faced: three upsert micro-batches
      // (every key in its o_orderkey%3 batch, every %5==0 key RE-SENT by
      // all three with a rising version) through LakeIngest.ingestBatch —
      // final lake ≡ last-writer-wins one-shot SQL
      RegisteredQuery(
        "q_lake_ingest",
        (s, dir) => {
          val lake = freshStore(s, "lake_ingest")
          val orders = Tables.resolve(s, dir)("orders")
          def batch(b: Int) = orders
            .where(pmod(col("o_orderkey"), lit(3)) === b ||
              pmod(col("o_orderkey"), lit(5)) === 0)
            .select(col("o_orderkey"), col("o_orderstatus"),
              lit(b.toLong).as("ver"),
              (cents("o_totalprice")
                + b).as("amount_c"))
          (0 until 3).foreach { b =>
            graft.streaming.LakeIngest.ingestBatch(batch(b), lake,
              Seq("o_orderkey"), Seq("o_orderstatus"), "ver")
          }
          s.read.parquet(lake)
            .select(col("o_orderkey"), col("o_orderstatus"), col("ver"),
              col("amount_c"))
            .orderBy("o_orderkey")
        },
        Some(s"""SELECT o_orderkey, o_orderstatus,
CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE o_orderkey % 3 END AS BIGINT) AS ver,
${centsSql("o_totalprice")}
  + (CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE o_orderkey % 3 END) AS amount_c
FROM orders ORDER BY o_orderkey""")),

      // streaming exact-dedup ingest, driver-faced: documents tripled with
      // injected re-crawl copies (+1e6 lands one batch EARLIER mod 3 for a
      // third of ids — exercising the vs-store drop of the ORIGINAL — and
      // +3e6 lands in the SAME batch, exercising in-batch keep-lowest),
      // chunked through DedupIngest.ingestBatchExact; the surviving corpus
      // ≡ first-batch-then-lowest-id per text, one-shot SQL
      RegisteredQuery(
        "q_dedup_ingest",
        (s, dir) => {
          val corpus = scratch("dedup_ingest_corpus")
          val fps = scratch("dedup_ingest_fps")
          val fsys = new org.apache.hadoop.fs.Path(corpus)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          Seq(corpus, fps).foreach(d =>
            fsys.delete(new org.apache.hadoop.fs.Path(d), true))
          val docs = Tables.resolve(s, dir)("documents")
            .select("doc_id", "text", "lang")
          val tripled = docs
            .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id"),
              col("text"), col("lang")))
            .unionByName(docs.select((col("doc_id") + 3000000L).as("doc_id"),
              col("text"), col("lang")))
          (0 until 3).foreach { b =>
            graft.streaming.DedupIngest.ingestBatchExact(
              tripled.where(pmod(col("doc_id"), lit(3)) === b),
              corpus, fps, "text", "doc_id", expectedStoreItems = 0L)
          }
          s.read.parquet(corpus).select("doc_id", "lang").orderBy("doc_id")
        },
        Some("""WITH u AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL SELECT doc_id + 1000000, text, lang FROM documents
  UNION ALL SELECT doc_id + 3000000, text, lang FROM documents)
SELECT doc_id, lang FROM u
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id % 3, doc_id) = 1
ORDER BY doc_id""")),

      // inverted index: per-doc distinct terms in the scan stage, one
      // term-keyed shuffle, posting lists bounded by the BottomK buffer
      // (df still counts everything — truncation visible, not silent)
      RegisteredQuery(
        "q_inverted_index",
        (s, dir) => graft.text.InvertedIndex.buildFlat(
            Tables.resolve(s, dir)("documents"), "doc_id", "text", maxPostings = 32)
          .orderBy("term", "pos"),
        Some(graft.text.InvertedIndex.oracleSql("documents", "doc_id", "text", 32))),

      // mergeable quantile summary in its EXACT regime (groups < 2k ⇒ no
      // compress ever fires ⇒ discrete quantile exact, quantile_disc
      // parity); the approximation path is QuantileSketchSpec's territory
      RegisteredQuery(
        "q_quantile_sketch",
        (s, dir) => {
          val orders = Tables.resolve(s, dir)("orders")
          val maxPerCust = memoPrecondition("quantileSketch", dir) {
            val row = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"))
              .agg(max(col("n"))).head
            if (row.isNullAt(0)) 0L else row.getLong(0)
          }
          require(maxPerCust < 128,
            s"q_quantile_sketch exact-regime precondition broken: a customer has " +
              s"$maxPerCust orders >= 2k=128 — the sketch would compress and the " +
              "exact oracle comparison becomes meaningless; regenerate or raise k")
          graft.functions.Quantiles.perGroup(
              orders.withColumn("__cents", cents("o_totalprice")),
              Seq("o_custkey"), col("__cents"),
              k = 64, qs = Seq((1L, 2L), (9L, 10L)), names = Seq("p50", "p90"))
            .orderBy("o_custkey")
        },
        Some(s"""SELECT o_custkey,
quantile_disc(${centsSql("o_totalprice")}, 0.5) AS p50,
quantile_disc(${centsSql("o_totalprice")}, 0.9) AS p90
FROM orders GROUP BY o_custkey ORDER BY o_custkey""")),

      // pivot with pinned values: one partial-agg'd group-by, |values|
      // buffer slots per group — the hand-written conditional-aggregation
      // plan, no discovery scan, no Expand
      RegisteredQuery(
        "q_pivot",
        (s, dir) => graft.operators.Reshape.pivotAgg(
            Tables.resolve(s, dir)("lineitem"),
            Seq("l_returnflag"), "l_linestatus", Seq("F", "O", "P"),
            Seq(sum(col("l_quantity").cast("decimal(18,6)")).cast("double")))
          .orderBy("l_returnflag"),
        Some("""SELECT l_returnflag,
CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS F,
CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS O,
CAST(sum(CASE WHEN l_linestatus = 'P' THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE) AS P
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

      // unpivot/melt: measures stacked to (metric, value) rows in the
      // scan stage (Expand, zero shuffle)
      RegisteredQuery(
        "q_unpivot",
        (s, dir) => graft.operators.Reshape.unpivot(
            Tables.resolve(s, dir)("lineitem")
              .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity").cast("double").as("qty"),
                col("l_extendedprice").cast("double").as("price"),
                col("l_discount").cast("double").as("disc")),
            Seq("l_orderkey", "l_linenumber"), Seq("qty", "price", "disc")),
        Some("""SELECT l_orderkey, l_linenumber, m AS metric, v AS value FROM (
SELECT l_orderkey, l_linenumber, 'qty' AS m, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
UNION ALL SELECT l_orderkey, l_linenumber, 'price', CAST(l_extendedprice AS DOUBLE) FROM lineitem
UNION ALL SELECT l_orderkey, l_linenumber, 'disc', CAST(l_discount AS DOUBLE) FROM lineitem)""")),

      // SCD Type-2 dimension maintenance: three in-order change batches
      // folded into the versioned store must equal the direct build
      // (windows over (eff, seq); no-op changes collapse; late data rejected)
      RegisteredQuery(
        "q_scd2",
        (s, dir) => {
          import graft.operators.Scd2
          val store = freshStore(s, "scd2_store")
          val ch = Tables.resolve(s, dir)("orders").select(
            col("o_custkey").as("k"), col("o_orderstatus").as("status"),
            col("o_orderdate").as("eff"), col("o_orderkey").as("seq"))
          val c1 = java.sql.Date.valueOf("1994-01-01")
          val c2 = java.sql.Date.valueOf("1996-06-01")
          Seq(ch.where(col("eff") < lit(c1)),
              ch.where(col("eff") >= lit(c1) && col("eff") < lit(c2)),
              ch.where(col("eff") >= lit(c2)))
            .foreach(b => Scd2.update(s, store, b, "k", Seq("status"), "eff", "seq"))
          Scd2.read(s, store).orderBy("k", "valid_from", "seq")
        },
        Some(graft.operators.Scd2.buildOracle("orders", "o_custkey",
          Seq(("o_orderstatus", "status")), "o_orderdate", "o_orderkey"))),

      // temporal point-in-interval join: every order matched to the
      // dimension version valid at its date — key equi-join (hash, never
      // an inequality nested loop) with interval containment residual
      RegisteredQuery(
        "q_temporal_join",
        (s, dir) => {
          import graft.operators.Scd2
          val ch = Tables.resolve(s, dir)("orders").select(
            col("o_custkey").as("k"), col("o_orderstatus").as("status"),
            col("o_orderdate").as("eff"), col("o_orderkey").as("seq"))
          val dim = Scd2.build(ch, "k", Seq("status"), "eff", "seq")
          val facts = Tables.resolve(s, dir)("orders").select(
            col("o_orderkey"), col("o_custkey").as("k"), col("o_orderdate").as("ft"))
          Scd2.asOfDimension(facts, dim, "k", "ft")
            .select("o_orderkey", "k", "status", "valid_from")
        },
        Some(s"""WITH dim AS (${graft.operators.Scd2.buildOracleBody("orders", "o_custkey",
            Seq(("o_orderstatus", "status")), "o_orderdate", "o_orderkey")})
SELECT o.o_orderkey, o.o_custkey AS k, d.status, d.valid_from
FROM orders o JOIN dim d ON o.o_custkey = d.k
  AND o.o_orderdate >= d.valid_from
  AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)""")),

      // fixed-grid resample of the event stream: per-user hourly buckets,
      // gaps forward-filled — epoch-aligned floors and a max reducer keep
      // it engine-replayable; spine bounded by span, not event count
      RegisteredQuery(
        "q_resample",
        (s, dir) => graft.operators.Resample.gapFillFfill(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts", "value"),
        Some(graft.operators.Resample.gapFillOracle("events", "user_id", "ts", "value"))),

      // linear-interpolation gap fill on the same grid: exact rational
      // interpolation between surrounding observations over integer row
      // positions, the same truncating division both engines
      RegisteredQuery(
        "q_resample_linear",
        (s, dir) => graft.operators.Resample.gapFillLinear(
            Tables.resolve(s, dir)("events")
              .withColumn("cents", cents("value")),
            "user_id", "ts", "cents", interval = "6 hours"),
        Some(graft.operators.Resample.gapFillLinearOracle(
          "events", "user_id", "ts",
          centsSql("value"),
          intervalSql = "INTERVAL 6 HOUR"))),

      // weekly cohort retention matrix over the event stream: date_trunc
      // floors + integer day arithmetic, engine-replayable exactly
      RegisteredQuery(
        "q_retention",
        (s, dir) => graft.operators.Retention.weeklyCohorts(
            Tables.resolve(s, dir)("events"), "user_id", "ts")
          .orderBy("cohort_week", "week_offset"),
        Some(graft.operators.Retention.weeklyOracle("events", "user_id", "ts"))),

      // edit-distance similarity self-join (FastSS/SymSpell): deletion-
      // neighborhood blocking generates candidates losslessly (ed<=k =>
      // both strings delete to a shared subsequence), exact levenshtein
      // verifies — the naive quadratic join is the oracle
      RegisteredQuery(
        "q_fuzzy_join",
        (s, dir) => graft.text.EdJoin.selfJoin(
            Tables.resolve(s, dir)("customer"), "c_custkey", "c_name", k = 1)
          .orderBy("id_a", "id_b"),
        Some(graft.text.EdJoin.oracleSql("customer", "c_custkey", "c_name", k = 1))),

      // incremental exact dedup: batch vs historical fingerprint store
      // (anti-join known dups out BEFORE the in-batch shuffle)
      RegisteredQuery(
        "q_dedup_incremental",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          val store = docs.where(pmod(col("doc_id"), lit(7)) === 0)
            .select(fingerprint(col("text")).as("fp")).distinct()
          graft.llm.Dedup.dedupIncremental(docs, store, "text", "doc_id")
            .select("doc_id", "lang", "n_chars").orderBy("doc_id")
        },
        Some(graft.llm.Dedup.incrementalOracle(
          "documents", "doc_id", "text",
          storeWhereSql = "doc_id % 7 = 0",
          keepCols = Seq("doc_id", "lang", "n_chars")))),

      // vocabulary coverage: top-300 corpus vocab (deterministic tie order)
      // then scan-stage InSet OOV counting; oracle uses the explode/join
      // formulation — the gate proves the two equivalent
      RegisteredQuery(
        "q_oov_rate",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          val vocab = CorpusFilters.buildVocab(docs, "text", topN = 300)
          CorpusFilters.oovStats(docs, "doc_id", "text", vocab).orderBy("doc_id")
        },
        Some(CorpusFilters.oovOracle("documents", "doc_id", "text", topN = 300))),

      // overlapping token-window chunking (RAG ingestion): scan-stage array
      // surgery, no shuffle; layout deterministic from (text, chunk, stride)
      RegisteredQuery(
        "q_chunk_docs",
        (s, dir) => graft.text.Packing.chunkDocs(
            Tables.resolve(s, dir)("documents"), "doc_id", "text",
            chunkTokens = 64, stride = 48)
          .orderBy("doc_id", "chunk_id"),
        Some(graft.text.Packing.chunkDocsOracle(
          "documents", "doc_id", "text", chunkTokens = 64, stride = 48))),

      // normalization: messy-cased/padded variant canonicalizes identically
      // in both engines (fingerprint-compared)
      RegisteredQuery(
        "q_text_normalize",
        (s, dir) => {
          val messy = concat(lit("  "), upper(col("text")), lit("  MiXeD   Case "))
          Tables.resolve(s, dir)("documents").select(
              col("doc_id"),
              fingerprint(CorpusFilters.normalizeText(messy)).as("norm_fp"),
              length(CorpusFilters.normalizeText(messy)).as("n_chars_norm"))
            .orderBy("doc_id")
        },
        Some {
          val messySql = "'  ' || upper(text) || '  MiXeD   Case '"
          val normSql = CorpusFilters.normalizeSql(messySql)
          s"SELECT doc_id, ${hash60Sql(normSql)} AS norm_fp, " +
            s"length($normSql) AS n_chars_norm FROM documents ORDER BY doc_id"
        }))
  }

  /** Round-6 scale-technique surface: sketch algebra (CMS point counts,
    * KMV set operations), runtime-filter and salted joins, semi-structured
    * JSON access, and variable-offset media header parsing.
    */
  val scaleOps: Seq[RegisteredQuery] = {
    import graft.functions.{BottomK, CountMinSketch, MediaDims}
    import graft.text.TextFunctions.fingerprint
    import org.apache.spark.sql.functions._
    // Derived partsupp surrogate shared by the Q2/Q9/Q11/Q16/Q20 shapes:
    // the slim schema ships no partsupp table, so the supply relation is
    // DECLARED from lineitem — per (partkey, suppkey), ps_supplycost = min
    // extended price ever charged (exact DECIMAL(18,2)) and ps_availqty =
    // all-time shipped quantity (exact BIGINT). One partial-agg'd shuffle
    // keyed by exactly the pair every consumer joins back on.
    def supplySurrogate(li: DataFrame): DataFrame =
      li.groupBy(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("ps_supplycost"),
          sum(col("l_quantity").cast("bigint")).as("ps_availqty"))
    // DuckDB CTE replaying supplySurrogate bit-for-bit.
    val SupplyCte =
      """supply AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
  min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty
  FROM lineitem GROUP BY 1, 2)"""
    Seq(
      // semi-structured access: JSON path extraction in the scan stage
      // (get_json_object + schema'd from_json agree row-for-row), one
      // event_type shuffle for the stats
      RegisteredQuery(
        "q_json_extract",
        (s, dir) => {
          val ev = Tables.resolve(s, dir)("events")
          val k = get_json_object(col("props"), "$.k").cast("long")
          val k2 = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
            .getField("k")
          ev.select(col("event_type"), k.as("k"), k2.as("k2"))
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
              sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
              max(col("k")).as("max_k"),
              count(when(col("k") <=> col("k2"), 1)).as("n_agree"))
            .orderBy("event_type")
        },
        Some("""WITH e AS (SELECT event_type,
  TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS k FROM events)
SELECT event_type, count(*) AS n, count(k) AS n_k,
  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
  count(*) AS n_agree
FROM e GROUP BY event_type ORDER BY event_type""")),

      // salted skew join: the explicit whale-key tool — salt fans the big
      // side over buckets, the small side replicates; the aggregated result
      // is provably salt-independent (the oracle is the plain join)
      RegisteredQuery(
        "q_skew_join",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          graft.operators.SkewJoin.saltedJoin(
              t("orders"), t("customer"), "o_custkey", "c_custkey", buckets = 8)
            .groupBy("c_nationkey")
            .agg(count(lit(1)).as("n_orders"),
              sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
            .orderBy("c_nationkey")
        },
        Some("""SELECT c_nationkey, count(*) AS n_orders,
CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey ORDER BY c_nationkey""")),

      // runtime-filter join pruning: bloom over the filtered dim keys
      // probes in the fact SCAN stage, so non-matching fact rows never
      // reach the join shuffle; inner-join semantics exactly preserved
      RegisteredQuery(
        "q_bloom_prune",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val dim = t("part").where(col("p_size") === 15)
          graft.operators.RuntimeFilter.bloomPrunedJoin(
              t("lineitem"), dim, "l_partkey", "p_partkey", expectedDimKeys = 1L << 14)
            .groupBy("p_brand")
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_qty"))
            .orderBy("p_brand")
        },
        Some("""SELECT p_brand, count(*) AS n,
CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size = 15 GROUP BY p_brand ORDER BY p_brand""")),

      // Count-Min point-frequency estimates: ONE fixed-size counter matrix
      // aggregated over the corpus (bounded buffer, element-wise merge);
      // the oracle replays the identical md5 bucket arithmetic, so the
      // comparison is exact even when buckets collide
      RegisteredQuery(
        "q_cms_counts",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          val (depth, width) = (3, 64)
          val sk = docs.agg(CountMinSketch(depth, width)(
            CountMinSketch.buckets(col("lang"), depth, width)).as("sk"))
          docs.select("lang").where(col("lang").isNotNull).distinct()
            .crossJoin(broadcast(sk))
            .select(col("lang"),
              CountMinSketch.estimate(col("sk"), col("lang"), depth, width).as("est"))
            .orderBy("lang")
        },
        Some(CountMinSketch.estimateOracle("documents", "lang", 3, 64))),

      // KMV set algebra: per-source distinct sketches merged pairwise —
      // union by sorted-distinct merge, intersection by inclusion–
      // exclusion. Exact regime (total distinct ≤ k, asserted) so the
      // oracle is plain COUNT(DISTINCT); estimate behavior is spec
      // territory (BottomKSpec)
      RegisteredQuery(
        "q_kmv_set_ops",
        (s, dir) => {
          val k = 8192
          val docs = Tables.resolve(s, dir)("documents")
          val total = memoPrecondition("kmvSet", dir)(
            docs.select(fingerprint(col("text"))).distinct().count())
          require(total <= k,
            s"q_kmv_set_ops exact-regime precondition broken: $total distinct " +
              s"fingerprints > k=$k — pair-union sketches would truncate and the " +
              "exact oracle comparison becomes meaningless; raise k")
          val per = docs.select(col("source"), fingerprint(col("text")).as("fp"))
            .groupBy("source").agg(BottomK.distinct(k)(col("fp")).as("sk"))
          val a = per.select(col("source").as("source_a"), col("sk").as("ska"))
          val b = per.select(col("source").as("source_b"), col("sk").as("skb"))
          a.join(b, col("source_a") < col("source_b"))
            .select(col("source_a"), col("source_b"),
              size(col("ska")).cast("long").as("nd_a"),
              size(col("skb")).cast("long").as("nd_b"),
              size(BottomK.kmvMerge(col("ska"), col("skb"), k)).cast("long").as("nd_union"))
            .withColumn("nd_intersect", col("nd_a") + col("nd_b") - col("nd_union"))
            .orderBy("source_a", "source_b")
        },
        Some("""WITH fp AS (SELECT source,
  CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS fp FROM documents),
d AS (SELECT source, count(DISTINCT fp) AS nd FROM fp GROUP BY source),
pair AS (SELECT a.source AS sa, b.source AS sb FROM d a JOIN d b ON a.source < b.source),
un AS (SELECT p.sa, p.sb, count(DISTINCT f.fp) AS ndu FROM pair p
  JOIN fp f ON f.source = p.sa OR f.source = p.sb GROUP BY p.sa, p.sb)
SELECT p.sa AS source_a, p.sb AS source_b, da.nd AS nd_a, db.nd AS nd_b,
  un.ndu AS nd_union, da.nd + db.nd - un.ndu AS nd_intersect
FROM pair p
JOIN d da ON da.source = p.sa JOIN d db ON db.source = p.sb
JOIN un ON un.sa = p.sa AND un.sb = p.sb
ORDER BY source_a, source_b""")),

      // variable-offset media headers: synthetic PNG/GIF/JPEG/BMP payloads
      // (endianness and segment layout all real) parsed back by the native
      // media_dims expression inside whole-stage codegen; the oracle
      // recomputes dims from the columns they were embedded from
      RegisteredQuery(
        "q_media_dims",
        (s, dir) => {
          val w = (pmod(col("n_chars"), lit(4000)) + 1).cast("int")
          val h = (pmod(col("doc_id"), lit(3000)) + 1).cast("int")
          def be(c: org.apache.spark.sql.Column, d: Int) = lpad(hex(c), d, "0")
          def le16(c: org.apache.spark.sql.Column) = {
            val x = be(c, 4); concat(substring(x, 3, 2), substring(x, 1, 2))
          }
          def le32(c: org.apache.spark.sql.Column) = {
            val x = be(c, 8)
            concat(substring(x, 7, 2), substring(x, 5, 2), substring(x, 3, 2), substring(x, 1, 2))
          }
          // JPEG APP0 length varies per doc to force a real segment walk
          val pad = pmod(col("doc_id"), lit(8)).cast("int")
          val rot = pmod(col("doc_id"), lit(4))
          val payloadHex =
            when(rot === 0, concat(lit("89504E470D0A1A0A0000000D49484452"), be(w, 8), be(h, 8)))
              .when(rot === 1, concat(lit("474946383961"), le16(w), le16(h), lit("00")))
              .when(rot === 2, concat(lit("FFD8FFE0"), be(pad + 7, 4), lit("4A46494600"),
                lit("00000000000000").substr(lit(1), (pad * 2).cast("int")),
                lit("FFC0001108"), be(h, 4), be(w, 4), lit("03011100021101031101FFD9")))
              .otherwise(concat(lit("424D000000000000000036000000" + "28000000"),
                le32(w), le32(h), lit("0100180000000000")))
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"), MediaDims(unhex(payloadHex)).as("d"))
            .select(col("doc_id"),
              col("d").getField("format").as("format"),
              col("d").getField("width").as("width"),
              col("d").getField("height").as("height"))
            .orderBy("doc_id")
        },
        Some("""SELECT doc_id,
  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'jpeg' ELSE 'bmp' END AS format,
  CAST(n_chars % 4000 + 1 AS INT) AS width,
  CAST(doc_id % 3000 + 1 AS INT) AS height
FROM documents ORDER BY doc_id""")),

      // audio metadata: WAV RIFF chunk walk (variable LIST chunk before
      // fmt forces a real walk) + FLAC STREAMINFO bitfields, one native
      // codegen'd expression; oracle recomputes from the generating cols
      RegisteredQuery(
        "q_audio_meta",
        (s, dir) => {
          def le16(c: org.apache.spark.sql.Column) = {
            val x = lpad(hex(c), 4, "0")
            concat(substring(x, 3, 2), substring(x, 1, 2))
          }
          def le32(c: org.apache.spark.sql.Column) = {
            val x = lpad(hex(c), 8, "0")
            concat(substring(x, 7, 2), substring(x, 5, 2),
              substring(x, 3, 2), substring(x, 1, 2))
          }
          // single source of truth for the sample-rate expression — the
          // WAV (Column) and FLAC (string-interpolated) branches must
          // encode the same rate the oracle derives
          val srE = "CAST(element_at(array(8000,16000,44100,48000), CAST(doc_id % 4 AS INT) + 1) AS BIGINT)"
          val sr = expr(srE)
          val ch = expr("n_chars % 2 + 1")
          val dataSize = expr("n_chars * 64")
          val byteRate = sr * ch * lit(2)
          val lsize = expr("CAST(doc_id % 7 AS INT)")
          val listChunk = concat(lit("4C495354"), le32(lsize),
            expr("repeat('41', CAST(doc_id % 7 AS INT))"),
            expr("CASE WHEN doc_id % 7 % 2 = 1 THEN '00' ELSE '' END"))
          val fmtChunk = concat(lit("666D7420"), lit("10000000"), lit("0100"),
            le16(ch), le32(sr), le32(byteRate), le16(ch * 2), lit("1000"))
          val wavHex = concat(lit("52494646"), lit("00000000"), lit("57415645"),
            listChunk, fmtChunk, lit("64617461"), le32(dataSize))
          val samples = expr("n_chars * 50")
          val flacHex = concat(lit("664C6143"), lit("00"), lit("000022"),
            lit("10001000000000000000"),
            lpad(hex(expr(s"$srE div 4096")), 2, "0"),
            lpad(hex(expr(s"($srE div 16) % 256")), 2, "0"),
            lpad(hex(expr(s"($srE % 16) * 16 + (n_chars % 2) * 2")), 2, "0"),
            lit("F0"),
            lpad(hex(samples), 8, "0"))
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"),
              graft.functions.AudioMeta(unhex(
                when(pmod(col("doc_id"), lit(2)) === 0, wavHex).otherwise(flacHex)))
                .as("a"))
            .select(col("doc_id"),
              col("a.format").as("format"), col("a.channels").as("channels"),
              col("a.sample_rate").as("sample_rate"), col("a.bits").as("bits"),
              col("a.duration_ms").as("duration_ms"))
        },
        Some("""WITH p AS (SELECT doc_id, n_chars,
  CAST([8000,16000,44100,48000][CAST(doc_id % 4 AS INT) + 1] AS BIGINT) AS sr,
  n_chars % 2 + 1 AS ch FROM documents)
SELECT doc_id,
  CASE doc_id % 2 WHEN 0 THEN 'wav' ELSE 'flac' END AS format,
  CAST(ch AS INT) AS channels, CAST(sr AS INT) AS sample_rate, 16 AS bits,
  CAST(CASE doc_id % 2
    WHEN 0 THEN (n_chars * 64 * 1000) // (sr * ch * 2)
    ELSE (n_chars * 50 * 1000) // sr END AS BIGINT) AS duration_ms
FROM p""")),

      // winsorization: per-group KLL p10/p90 bounds (exact regime, same
      // precondition as q_quantile_sketch) + scan-stage clip — outlier-
      // robust normalization with one group shuffle and one bounds join
      RegisteredQuery(
        "q_winsorize",
        (s, dir) => {
          val orders = Tables.resolve(s, dir)("orders")
          val maxPerCust = memoPrecondition("quantileSketch", dir) {
            val row = orders.groupBy("o_custkey").agg(count(lit(1)).as("n"))
              .agg(max(col("n"))).head
            if (row.isNullAt(0)) 0L else row.getLong(0)
          }
          require(maxPerCust < 128,
            s"q_winsorize exact-regime precondition broken: a customer has " +
              s"$maxPerCust orders >= 2k=128 — the KLL summary would compress and " +
              "the exact oracle comparison becomes meaningless; raise k")
          graft.functions.Quantiles.winsorizePerGroup(
              orders.withColumn("__cents", cents("o_totalprice")),
              Seq("o_custkey"), col("__cents"),
              k = 64, lo = (1L, 10L), hi = (9L, 10L), outCol = "cents_w")
            .select(col("o_orderkey"), col("o_custkey"), col("cents_w"))
        },
        Some(s"""WITH b AS (SELECT o_custkey,
  quantile_disc(${centsSql("o_totalprice")}, 0.1) AS lo,
  quantile_disc(${centsSql("o_totalprice")}, 0.9) AS hi
  FROM orders GROUP BY o_custkey)
SELECT o_orderkey, o.o_custkey,
  least(greatest(${centsSql("o_totalprice")}, lo), hi) AS cents_w
FROM orders o JOIN b ON o.o_custkey = b.o_custkey""")),

      // TPC-H Q3 shape (shipping priority): selective dim broadcast into a
      // fact-fact join, DECIMAL revenue for cross-engine exactness, top-10
      // via TakeOrdered — the canonical "big join, small driver" plan
      RegisteredQuery(
        "q_tpch_q3",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val cutoff = lit("1998-06-01").cast("timestamp")
          val rev = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          t("lineitem").where(col("l_shipdate") > cutoff)
            .join(t("orders").where(col("o_orderdate") < cutoff),
              col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(t("customer").where(col("c_mktsegment") === "BUILDING")),
              col("o_custkey") === col("c_custkey"))
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(sum(rev).cast("double").as("revenue"))
            .orderBy(col("revenue").desc, col("o_orderdate").asc, col("l_orderkey").asc)
            .limit(10)
        },
        Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10""")),

      // TPC-H Q10 shape (returned-item revenue): fact-fact join filtered
      // by return flag and a quarter window, customer + nation broadcast,
      // top-20 losers by TakeOrdered — the churn-postmortem plan
      RegisteredQuery(
        "q_tpch_q10",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val rev = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          t("lineitem").where(col("l_returnflag") === "R")
            .join(t("orders").where(
                col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
              col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
            .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(sum(rev).cast("double").as("revenue"))
            .orderBy(col("revenue").desc, col("c_custkey").asc)
            .limit(20)
        },
        Some("""SELECT c_custkey, c_name, n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20""")),

      // TPC-H Q18 shape (large-volume customers): the classic semi-join
      // of facts against a HAVING-filtered aggregate of the SAME fact
      // table — the aggregate is tiny after the cut and broadcasts back
      RegisteredQuery(
        "q_tpch_q18",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val big = t("lineitem").groupBy("l_orderkey")
            .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("__q"))
            .where(col("__q") > 250)
            .select(col("l_orderkey").as("__bk"), col("__q"))
          t("orders")
            .join(broadcast(big), col("o_orderkey") === col("__bk"))
            .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
            .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
              col("o_orderdate"), col("o_totalprice"),
              col("__q").cast("double").as("total_qty"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        },
        Some("""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  CAST(tq AS DOUBLE) AS total_qty
FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS tq
      FROM lineitem GROUP BY l_orderkey HAVING tq > 250) b
JOIN orders ON o_orderkey = b.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC""")),

      // TPC-H Q5 shape (local supplier volume): six-table join — two fact
      // tables shuffled on their keys, every dimension broadcast, region
      // filter pruning nation before it ever touches the facts
      RegisteredQuery(
        "q_tpch_q5",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val rev = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          val asiaNations = t("nation")
            .join(broadcast(t("region").where(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
          t("lineitem")
            .join(t("orders").where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
              col("l_orderkey") === col("o_orderkey"))
            .join(t("customer"), col("o_custkey") === col("c_custkey"))
            .join(broadcast(t("supplier")),
              col("l_suppkey") === col("s_suppkey") &&
                col("c_nationkey") === col("s_nationkey"))
            .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
            .groupBy("n_name")
            .agg(sum(rev).cast("double").as("revenue"))
            .orderBy(col("revenue").desc, col("n_name").asc)
        },
        Some("""SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name ORDER BY revenue DESC, n_name ASC""")),

      // TPC-H Q6 shape (forecast revenue change): the pure scan-dominant
      // flagship — every predicate reaches the parquet scan, no join, no
      // shuffle beyond the 1-row grand agg; discounts compared in DECIMAL
      // so the band boundary is exact on both engines
      RegisteredQuery(
        "q_tpch_q6",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val d = col("l_discount").cast("decimal(18,2)")
          t("lineitem")
            .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
              d >= lit(new java.math.BigDecimal("0.05")) &&
              d <= lit(new java.math.BigDecimal("0.07")) &&
              col("l_quantity") < 24)
            .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * d)
              .cast("double").as("revenue"))
        },
        Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
  AND l_quantity < 24""")),

      // TPC-H Q7 shape (volume shipping between two nations): the
      // nation-pair matrix — both fact tables shuffled on their join
      // keys, supplier and the two nation legs broadcast; the symmetric
      // OR pair predicate rides the joined row, years split the readout
      RegisteredQuery(
        "q_tpch_q7",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val pair = Seq("NATION_3", "NATION_8")
          val n1 = t("nation").where(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("__n1k"), col("n_name").as("supp_nation"))
          val n2 = t("nation").where(col("n_name").isin(pair: _*))
            .select(col("n_nationkey").as("__n2k"), col("n_name").as("cust_nation"))
          val vol = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          t("lineitem")
            .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
            .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
            .join(t("customer"), col("o_custkey") === col("c_custkey"))
            .join(broadcast(t("supplier")), col("l_suppkey") === col("s_suppkey"))
            .join(broadcast(n1), col("s_nationkey") === col("__n1k"))
            .join(broadcast(n2), col("c_nationkey") === col("__n2k"))
            .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_8") ||
              (col("supp_nation") === "NATION_8" && col("cust_nation") === "NATION_3"))
            .groupBy(col("supp_nation"), col("cust_nation"),
              year(col("l_shipdate")).as("l_year"))
            .agg(sum(vol).cast("double").as("revenue"))
            .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        },
        Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

      // TPC-H Q8 shape (national market share): region-filtered customers,
      // type-filtered parts, per-year nation volume NEXT TO total volume —
      // published as the exact (numerator, denominator) pair instead of a
      // divided share: decimal division rounds differently across engines
      // (HALF_UP at result scale in Spark), the pair is engine-exact and
      // carries strictly more information
      RegisteredQuery(
        "q_tpch_q8",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val vol = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          val amNations = t("nation")
            .join(broadcast(t("region").where(col("r_name") === "AMERICA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("__ck"))
          val suppNation = t("nation")
            .select(col("n_nationkey").as("__sk"), col("n_name").as("__sn"))
          t("lineitem")
            .join(broadcast(t("part").where(col("p_type") === "STANDARD")),
              col("l_partkey") === col("p_partkey"))
            .join(t("orders").where(
                col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
              col("l_orderkey") === col("o_orderkey"))
            .join(t("customer"), col("o_custkey") === col("c_custkey"))
            .join(broadcast(amNations), col("c_nationkey") === col("__ck"))
            .join(broadcast(t("supplier")), col("l_suppkey") === col("s_suppkey"))
            .join(broadcast(suppNation), col("s_nationkey") === col("__sk"))
            .groupBy(year(col("o_orderdate")).as("o_year"))
            .agg(
              sum(when(col("__sn") === "NATION_1", vol)
                .otherwise(lit(0).cast("decimal(18,2)")))
                .cast("double").as("nation_volume"),
              sum(vol).cast("double").as("total_volume"))
            .orderBy(col("o_year"))
        },
        Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(sum(CASE WHEN n2.n_name = 'NATION_1' THEN volume
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
  CAST(sum(volume) AS DOUBLE) AS total_volume
FROM (SELECT o_orderdate, s_nationkey,
        CAST(l_extendedprice AS DECIMAL(18,2)) *
          (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01') f
JOIN nation n2 ON f.s_nationkey = n2.n_nationkey
GROUP BY 1 ORDER BY 1""")),

      // TPC-H Q14 shape (promo revenue): month-windowed fact scan with a
      // broadcast dimension and a conditional aggregate — published as the
      // exact (promo, total) pair for the same cross-engine-division
      // reason as Q8
      RegisteredQuery(
        "q_tpch_q14",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val vol = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          t("lineitem")
            .where(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
            .join(broadcast(t("part")), col("l_partkey") === col("p_partkey"))
            .agg(
              sum(when(col("p_type") === "PROMO", vol)
                .otherwise(lit(0).cast("decimal(18,2)")))
                .cast("double").as("promo_revenue"),
              sum(vol).cast("double").as("total_revenue"))
        },
        Some("""SELECT
  CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (1 - CAST(l_discount AS DECIMAL(18,2)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'""")),

      // TPC-H Q15 shape (top supplier): quarter revenue per supplier, then
      // the decorrelated scalar-subquery max — a 1-row broadcast crossed
      // back against the supplier-sized aggregate, ties kept (exact
      // DECIMAL equality, so "equals the max" is engine-stable)
      RegisteredQuery(
        "q_tpch_q15",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val vol = col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
          val rev0 = t("lineitem")
            .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
            .groupBy(col("l_suppkey"))
            .agg(sum(vol).as("__rev"))
          val top = rev0.agg(max(col("__rev")).as("__mx"))
          rev0.join(broadcast(top), col("__rev") === col("__mx"))
            .join(broadcast(t("supplier")), col("l_suppkey") === col("s_suppkey"))
            .select(col("s_suppkey"), col("s_name"),
              col("__rev").cast("double").as("total_revenue"))
            .orderBy(col("s_suppkey"))
        },
        Some("""WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no,
    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_rev = (SELECT max(total_rev) FROM revenue0)
ORDER BY s_suppkey""")),

      // TPC-H Q4 shape (order priority checking): the EXISTS decorrelation
      // flagship — a left-semi join whose condition mixes the equi key with
      // an inequality against the OUTER row's column (lateness relative to
      // the order's own date; the slim schema has no commit/receipt dates,
      // so "late" is shipped >90 days after order)
      RegisteredQuery(
        "q_tpch_q4",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          t("orders")
            .where(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
              col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
            .join(t("lineitem").select("l_orderkey", "l_shipdate"),
              col("l_orderkey") === col("o_orderkey") &&
                col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
              "left_semi")
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("order_count"))
            .orderBy(col("o_orderpriority"))
        },
        Some("""SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY 1 ORDER BY 1""")),

      // TPC-H Q13 shape (customer order distribution): the outer-join
      // histogram — customers with ZERO qualifying orders are real rows,
      // the filter lives in the join's ON clause (a WHERE would delete
      // the zero bucket), then a second aggregate over the first
      RegisteredQuery(
        "q_tpch_q13",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          t("customer").select("c_custkey")
            .join(t("orders").where(col("o_orderpriority") =!= "1-URGENT")
                .select("o_custkey", "o_orderkey"),
              col("c_custkey") === col("o_custkey"), "left_outer")
            .groupBy(col("c_custkey"))
            .agg(count(col("o_orderkey")).as("c_count"))
            .groupBy(col("c_count"))
            .agg(count(lit(1)).as("custdist"))
            .orderBy(col("custdist").desc, col("c_count").desc)
        },
        Some("""SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY 1) c_orders
GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

      // TPC-H Q17 shape (small-quantity-order revenue): the correlated
      // scalar-average subquery, decorrelated into a per-part aggregate
      // broadcast back against the same brand-restricted fact slice; the
      // 0.2·avg threshold is cross-multiplied into exact integers
      // (5·qty·cnt < sum_qty) so no division enters the predicate
      RegisteredQuery(
        "q_tpch_q17",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val li = t("lineitem")
            .join(broadcast(t("part").where(col("p_brand") === "Brand#13")
                .select(col("p_partkey"))),
              col("l_partkey") === col("p_partkey"))
            .select(col("l_partkey"),
              col("l_quantity").cast("bigint").as("__qty"),
              col("l_extendedprice").cast("decimal(18,2)").as("__price"))
          val ag = li.groupBy(col("l_partkey").as("__pk"))
            .agg(sum(col("__qty")).as("__sq"), count(lit(1)).as("__cnt"))
          li.join(broadcast(ag), col("l_partkey") === col("__pk"))
            .where(lit(5) * col("__qty") * col("__cnt") < col("__sq"))
            .agg((sum(col("__price")).cast("double") / lit(7.0)).as("avg_yearly"))
        },
        Some("""WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
 li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
          CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        FROM lineitem JOIN bp ON l_partkey = p_partkey),
 ag AS (SELECT l_partkey, sum(qty) AS sq, count(*) AS cnt FROM li GROUP BY 1)
SELECT CAST(sum(price) AS DOUBLE) / 7.0 AS avg_yearly
FROM li JOIN ag USING (l_partkey)
WHERE 5 * qty * cnt < sq""")),

      // TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
      // pushdown flagship — the part-only conjuncts of each disjunct are
      // factored out and pushed into the dimension BEFORE the broadcast
      // (brand/size prune part to a sliver), the full brand×quantity
      // disjunction rides the joined row
      RegisteredQuery(
        "q_tpch_q19",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val partSide =
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)) ||
            (col("p_brand") === "Brand#19" && col("p_size").between(1, 25)) ||
            (col("p_brand") === "Brand#24" && col("p_size").between(1, 35))
          val full =
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 11)) ||
            (col("p_brand") === "Brand#19" && col("p_size").between(1, 25) &&
              col("l_quantity").between(10, 20)) ||
            (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
              col("l_quantity").between(20, 30))
          t("lineitem")
            .join(broadcast(t("part").where(partSide)),
              col("l_partkey") === col("p_partkey"))
            .where(full)
            .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
                (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
              .cast("double").as("revenue"))
        },
        Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""")),

      // TPC-H Q21 shape (suppliers who kept orders waiting): the
      // EXISTS + NOT-EXISTS double correlation. The Spark side runs the
      // DECORRELATED form — one pass over the order's lines counting
      // (distinct suppliers, distinct LATE suppliers, late lines) and
      // electing the sole late supplier — while the oracle keeps the
      // textbook correlated form, so hash equality proves the
      // decorrelation itself
      RegisteredQuery(
        "q_tpch_q21",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val li = t("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
            .join(t("orders").where(col("o_orderstatus") === "F")
                .select("o_orderkey", "o_orderdate"),
              col("l_orderkey") === col("o_orderkey"))
            .withColumn("__late",
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          val perOrder = li.groupBy(col("l_orderkey"))
            .agg(
              countDistinct(col("l_suppkey")).as("__ns"),
              countDistinct(when(col("__late"), col("l_suppkey"))).as("__nl"),
              sum(when(col("__late"), lit(1L)).otherwise(lit(0L))).as("__nll"),
              max(when(col("__late"), col("l_suppkey"))).as("__who"))
            .where(col("__ns") > 1 && col("__nl") === 1)
          val natSupp = t("supplier")
            .join(broadcast(t("nation").where(col("n_name") === "NATION_4")),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("s_name"))
          perOrder.join(broadcast(natSupp), col("__who") === col("s_suppkey"))
            .groupBy(col("s_name"))
            .agg(sum(col("__nll")).as("numwait"))
            .orderBy(col("numwait").desc, col("s_name"))
        },
        Some("""SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_4'
GROUP BY s_name ORDER BY numwait DESC, s_name""")),

      // TPC-H Q22 shape (global sales opportunity): scalar-subquery
      // average as a 1-row broadcast (cross-multiplied into DECIMAL —
      // bal·n > sum — so the mean never materializes as a float) plus an
      // anti join against recent orders; the slim schema has no phone
      // column, so "country code" is the nation key and "no orders" is
      // no orders since 2000
      RegisteredQuery(
        "q_tpch_q22",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val sel = t("customer")
            .where(col("c_nationkey").isin(1, 4, 7, 10, 13, 16, 19))
            .select(col("c_custkey"), col("c_nationkey"),
              col("c_acctbal").cast("decimal(18,2)").as("__bal"))
          val pos = sel.where(col("__bal") > 0)
            .agg(sum(col("__bal")).as("__s"), count(lit(1)).as("__n"))
          sel.crossJoin(broadcast(pos))
            .where(col("__bal") * col("__n") > col("__s"))
            .join(t("orders")
                .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
                .select(col("o_custkey")),
              col("c_custkey") === col("o_custkey"), "left_anti")
            .groupBy(col("c_nationkey").as("cntrycode"))
            .agg(count(lit(1)).as("numcust"),
              sum(col("__bal")).cast("double").as("totacctbal"))
            .orderBy(col("cntrycode"))
        },
        Some("""WITH sel AS (SELECT c_custkey, c_nationkey,
          CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer WHERE c_nationkey IN (1,4,7,10,13,16,19)),
 pos AS (SELECT sum(bal) AS s, count(*) AS n FROM sel WHERE bal > 0)
SELECT c_nationkey AS cntrycode, count(*) AS numcust,
  CAST(sum(bal) AS DOUBLE) AS totacctbal
FROM sel, pos
WHERE bal * CAST(n AS DECIMAL(18,0)) > s
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1 ORDER BY 1""")),

      // TPC-H Q2 shape (minimum-cost supplier): the correlated scalar MIN
      // subquery — for each qualifying part, the supplier in a region
      // offering the minimum supply cost. The Spark side runs the
      // DECORRELATED form (region-restricted supply aggregated to a
      // per-part min, joined back on (partkey, cost)) while the oracle
      // keeps the textbook correlated subquery, so hash equality proves
      // the decorrelation. The 100-supplier dimension side broadcasts;
      // the per-part min is partial-agg'd before its exchange
      RegisteredQuery(
        "q_tpch_q2",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val euroSupp = t("supplier")
            .join(broadcast(t("nation")
                .join(broadcast(t("region").where(col("r_name") === "EUROPE")),
                  col("n_regionkey") === col("r_regionkey"))
                .select("n_nationkey", "n_name")),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
          // suppkey-only filter commutes with the pair-local aggregate:
          // restricting lineitem BEFORE the supply build prunes the
          // aggregation shuffle to the EU slice (same pairs, same mins)
          val supplyEu = supplySurrogate(t("lineitem")
              .join(broadcast(euroSupp.select("s_suppkey")),
                col("l_suppkey") === col("s_suppkey"), "left_semi"))
            .join(broadcast(euroSupp), col("ps_suppkey") === col("s_suppkey"))
          val minCost = supplyEu.groupBy(col("ps_partkey").as("__pk"))
            .agg(min(col("ps_supplycost")).as("__mc"))
          supplyEu
            .join(minCost, col("ps_partkey") === col("__pk") &&
              col("ps_supplycost") === col("__mc"))
            .join(broadcast(t("part")
                .where(col("p_size") <= 25 && col("p_type") === "LARGE")
                .select("p_partkey", "p_brand")),
              col("ps_partkey") === col("p_partkey"))
            .select(col("s_acctbal").cast("double").as("s_acctbal"),
              col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
              col("ps_supplycost").cast("double").as("supplycost"))
            .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
              col("p_partkey"), col("supplycost"))
            .limit(100)
        },
        Some(s"""WITH $SupplyCte
SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name, p_partkey, p_brand,
  CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM part, supply, supplier, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size <= 25 AND p_type = 'LARGE'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps_supplycost) FROM supply, supplier, nation, region
    WHERE ps_partkey = p_partkey AND s_suppkey = ps_suppkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, supplycost LIMIT 100""")),

      // TPC-H Q9 shape (product type profit): the widest join tree in the
      // suite — fact joins the derived supply relation on BOTH its keys
      // (partkey, suppkey), orders for the year, broadcast supplier →
      // nation for the stratum; profit terms meet at a COMMON exact
      // DECIMAL(30,4) before the subtraction so both engines sum
      // identical exact values
      RegisteredQuery(
        "q_tpch_q9",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val gearParts = t("part").where(col("p_name").like("%gear%"))
            .select("p_partkey")
          val li = t("lineitem")
            .join(broadcast(gearParts), col("l_partkey") === col("p_partkey"))
            .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
              col("l_quantity").cast("bigint").as("__qty"),
              (col("l_extendedprice").cast("decimal(18,2)") *
                (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
                .cast("decimal(30,4)").as("__rev"))
          val natSupp = t("supplier")
            .join(broadcast(t("nation")), col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"), col("n_name"))
          // partkey-only filter commutes with the pair-local aggregate:
          // build supply over the gear slice only (same pairs, same mins)
          li.join(supplySurrogate(t("lineitem")
                .join(broadcast(gearParts),
                  col("l_partkey") === col("p_partkey"), "left_semi")),
              col("l_partkey") === col("ps_partkey") &&
                col("l_suppkey") === col("ps_suppkey"))
            .join(t("orders").select("o_orderkey", "o_orderdate"),
              col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
            .groupBy(col("n_name").as("nation"),
              year(col("o_orderdate")).cast("bigint").as("o_year"))
            .agg(sum(col("__rev") -
                (col("ps_supplycost") * col("__qty")).cast("decimal(30,4)"))
              .cast("double").as("sum_profit"))
            .orderBy(col("nation"), col("o_year").desc)
        },
        Some(s"""WITH $SupplyCte
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
    - CAST(ps_supplycost * CAST(l_quantity AS BIGINT) AS DECIMAL(30,4))) AS DOUBLE)
    AS sum_profit
FROM part, supply, supplier, lineitem, orders, nation
WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey AND ps_partkey = l_partkey
  AND p_partkey = l_partkey AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%gear%'
GROUP BY 1, 2 ORDER BY 1, 2 DESC""")),

      // TPC-H Q11 shape (important stock): GROUP BY + HAVING against a
      // scalar-subquery threshold. Values stay exact BIGINT cents
      // (supplycost·100 · availqty) so the 0.1% threshold cross-multiplies
      // into integers — no decimal-precision cap, no float drift; the
      // 1-row national total broadcasts into the HAVING
      RegisteredQuery(
        "q_tpch_q11",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val natSupp = t("supplier")
            .join(broadcast(t("nation").where(col("n_name") === "NATION_2")),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"))
          val nsup = supplySurrogate(t("lineitem")
              .join(broadcast(natSupp),
                col("l_suppkey") === col("s_suppkey"), "left_semi"))
            .select(col("ps_partkey"),
              ((col("ps_supplycost") * 100).cast("long") * col("ps_availqty"))
                .as("__cents"))
          val tot = nsup.agg(sum(col("__cents")).as("__t"))
          nsup.groupBy(col("ps_partkey"))
            .agg(sum(col("__cents")).as("__v"))
            .crossJoin(broadcast(tot))
            .where(col("__v") * 1000 > col("__t"))
            .select(col("ps_partkey"),
              (col("__v").cast("double") / 100.0).as("value"))
            .orderBy(col("value").desc, col("ps_partkey"))
        },
        Some(s"""WITH $SupplyCte,
nsup AS (SELECT ps_partkey,
    CAST(ps_supplycost * 100 AS BIGINT) * ps_availqty AS cents
  FROM supply, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey AND n_name = 'NATION_2'),
tot AS (SELECT sum(cents) AS t FROM nsup)
SELECT ps_partkey, CAST(sum(cents) AS DOUBLE) / 100.0 AS value
FROM nsup, tot GROUP BY ps_partkey, t
HAVING sum(cents) * 1000 > t
ORDER BY value DESC, ps_partkey""")),

      // TPC-H Q12 shape (shipping mode vs priority): the two-way
      // conditional aggregation — one fact-fact join filtered on an
      // inequality against the OUTER row's date, then CASE-split counts
      // per mode (the slim schema has no shipmode/commit/receipt columns:
      // mode is the A/R return flag, "late" is shipped >60 days after
      // the order date, receipt year is the ship year)
      RegisteredQuery(
        "q_tpch_q12",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          t("lineitem")
            .where(col("l_returnflag").isin("A", "R") &&
              col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
            .select("l_orderkey", "l_returnflag", "l_shipdate")
            .join(t("orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
              col("l_orderkey") === col("o_orderkey") &&
                col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .groupBy(col("l_returnflag").as("shipmode"))
            .agg(sum(when(hi, lit(1L)).otherwise(lit(0L))).as("high_line_count"),
              sum(when(hi, lit(0L)).otherwise(lit(1L))).as("low_line_count"))
            .orderBy(col("shipmode"))
        },
        Some("""SELECT l_returnflag AS shipmode,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
    AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey AND l_returnflag IN ('A', 'R')
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1 ORDER BY 1""")),

      // TPC-H Q16 shape (parts/supplier relationship): NOT-IN anti-join +
      // COUNT DISTINCT. The excluded-supplier subquery (negative balance =
      // the complaint surrogate) is non-null-keyed, so NOT IN ≡ left-anti
      // — the oracle keeps the literal NOT IN to pin that equivalence;
      // the distinct count is per (brand, type, size) after a broadcast
      // part join
      RegisteredQuery(
        "q_tpch_q16",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val parts = t("part")
            .where(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
            .select("p_partkey", "p_brand", "p_type", "p_size")
          supplySurrogate(t("lineitem")
              .join(broadcast(parts.select("p_partkey")),
                col("l_partkey") === col("p_partkey"), "left_semi"))
            .join(broadcast(t("supplier").where(col("s_acctbal") < 0)
                .select(col("s_suppkey"))),
              col("ps_suppkey") === col("s_suppkey"), "left_anti")
            .join(broadcast(parts), col("ps_partkey") === col("p_partkey"))
            .groupBy(col("p_brand"), col("p_type"), col("p_size"))
            .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
            .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
              col("p_size"))
        },
        Some(s"""WITH $SupplyCte
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM supply, part
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#13' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

      // TPC-H Q20 shape (part promotion): the nested-IN ladder with a
      // CORRELATED scalar threshold — suppliers of 'small%' parts whose
      // all-time stock exceeds twice their 1997 shipments of that part.
      // The empty-group NULL of the correlated sum (no 1997 shipments →
      // NULL → row excluded) decorrelates to an INNER join against the
      // 1997 aggregate; the final supplier membership is a left-semi
      RegisteredQuery(
        "q_tpch_q20",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val smallParts = t("part").where(col("p_name").like("small%"))
            .select(col("p_partkey"))
          val q97 = t("lineitem")
            .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
            .join(broadcast(smallParts),
              col("l_partkey") === col("p_partkey"), "left_semi")
            .groupBy(col("l_partkey").as("__pk"), col("l_suppkey").as("__sk"))
            .agg(sum(col("l_quantity").cast("bigint")).as("__q97"))
          val cand = supplySurrogate(t("lineitem")
              .join(broadcast(smallParts),
                col("l_partkey") === col("p_partkey"), "left_semi"))
            .join(broadcast(smallParts), col("ps_partkey") === col("p_partkey"))
            .join(q97, col("ps_partkey") === col("__pk") &&
              col("ps_suppkey") === col("__sk"))
            .where(col("ps_availqty") > lit(2) * col("__q97"))
            .select(col("ps_suppkey"))
          t("supplier")
            .join(broadcast(t("nation").where(col("n_name") === "NATION_1")),
              col("s_nationkey") === col("n_nationkey"))
            .join(cand, col("s_suppkey") === col("ps_suppkey"), "left_semi")
            .select(col("s_name"), col("s_acctbal").cast("double").as("s_acctbal"))
            .orderBy(col("s_name"))
        },
        Some(s"""WITH $SupplyCte
SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM supply
    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND ps_availqty > 2 * (
        SELECT CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'))
  AND s_nationkey = n_nationkey AND n_name = 'NATION_1'
ORDER BY s_name""")),

      // exact triangle counting (degree-oriented wedge join, O(m^1.5))
      // over the part co-purchase graph: parts sharing an order, edges
      // canonicalized inside the operator; per-vertex participation
      // counts including the zero-triangle vertices
      RegisteredQuery(
        "q_triangle_count",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 30)
          graft.operators.Triangles.perVertex(edges)
        },
        Some(graft.operators.Triangles.perVertexOracle(
          coPurchaseEdgesSql(30)))),

      // BM25 relevance scoring, integer-exact: rational tf saturation as
      // one integer division, per-term ln quantized once (QuantizedDot
      // discipline) — postings filtered to the query BEFORE any shuffle
      RegisteredQuery(
        "q_bm25",
        (s, dir) => graft.text.Bm25.score(
          Tables.resolve(s, dir)("documents"), "doc_id", "text",
          Bm25QueryTerms),
        Some(graft.text.Bm25.oracleSql("documents", "doc_id", "text",
          Bm25QueryTerms))),

      // exact chi-square contingency cells: one pair-count shuffle,
      // margins re-aggregated from the cell table and broadcast back;
      // (oT−rc)²·S div (Trc) — rational, truncating div on non-negatives
      RegisteredQuery(
        "q_chisq_cells",
        (s, dir) => graft.operators.Contingency.cells(
          Tables.resolve(s, dir)("documents"), "lang", "source"),
        Some(graft.operators.Contingency.cellsOracle("documents", "lang", "source"))),

      // interval-overlap join: both sides grid-cell exploded, equi-join
      // on cell, exactly-once via first-joint-cell arithmetic (no
      // post-join distinct, no nested loop)
      RegisteredQuery(
        "q_interval_overlap",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
          val big = o.where(col("o_totalprice") > 400000)
            .select(col("o_orderkey").as("a_key"),
              col("o_orderdate").as("a_start"),
              (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("a_end"))
          val huge = o.where(col("o_totalprice") > 420000)
            .select(col("o_orderkey").as("b_key"),
              col("o_orderdate").as("b_start"),
              (col("o_orderdate") + expr("INTERVAL 10 DAYS")).as("b_end"))
          graft.operators.RangeJoin.overlapJoin(
              big, huge, "a_start", "a_end", "b_start", "b_end",
              bucket = "7 days")
            .select("a_key", "b_key")
        },
        Some(graft.operators.RangeJoin.overlapOracle(
          leftSql = "SELECT o_orderkey AS a_key, o_orderdate AS a_start, " +
            "o_orderdate + INTERVAL 7 DAY AS a_end FROM orders WHERE o_totalprice > 400000",
          rightSql = "SELECT o_orderkey AS b_key, o_orderdate AS b_start, " +
            "o_orderdate + INTERVAL 10 DAY AS b_end FROM orders WHERE o_totalprice > 420000",
          leftStart = "a_start", leftEnd = "a_end",
          rightStart = "b_start", rightEnd = "b_end",
          on = Nil, selectSql = "l.a_key, r.b_key"))),

      // deterministic weighted systematic sampling: integer grid walk
      // along the two-level-prefix cumulative weight axis — no RNG, no
      // float priorities, heavy rows legitimately repeat
      RegisteredQuery(
        "q_weighted_sample",
        (s, dir) => graft.text.WeightedSample.systematic(
          Tables.resolve(s, dir)("documents"), "doc_id",
          col("n_chars").cast("long"), step = 10000L),
        Some(graft.text.WeightedSample.oracleSql(
          "documents", "doc_id", "n_chars", step = 10000L))),

      // grouped OLS trend: four decimal partials per (group, partition),
      // truncating division — exact rational slope, no float
      RegisteredQuery(
        "q_grouped_trend",
        (s, dir) => graft.operators.GroupedTrend.slope(
          Tables.resolve(s, dir)("orders")
            .withColumn("x_days", datediff(col("o_orderdate"), lit("1992-01-01")))
            .withColumn("cents", cents("o_totalprice")),
          Seq("o_custkey"), "x_days", "cents"),
        Some(graft.operators.GroupedTrend.oracleSql("orders", Seq("o_custkey"),
          xSql = "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))",
          ySql = centsSql("o_totalprice")))),

      // exact grouped Pearson correlation components (feature screening):
      // one shuffle of five decimal partials; integers gated, the IEEE-
      // sqrt double is spec-checked
      RegisteredQuery(
        "q_grouped_corr",
        (s, dir) => graft.operators.GroupedTrend.correlation(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty_c", cents("l_quantity"))
              .withColumn("cents", cents("l_extendedprice")),
            Seq("l_returnflag"), "qty_c", "cents")
          .drop("corr")
          // the exact moments exceed 64-bit range in general: hash their
          // canonical decimal strings (oracle projects VARCHAR to match)
          .withColumn("corr_num", col("corr_num").cast("string"))
          .withColumn("var_x", col("var_x").cast("string"))
          .withColumn("var_y", col("var_y").cast("string"))
          .orderBy("l_returnflag"),
        Some(graft.operators.GroupedTrend.correlationOracle(
          "lineitem", Seq("l_returnflag"),
          xSql = centsSql("l_quantity"),
          ySql = centsSql("l_extendedprice")))),

      // per-class P/R/F1 report: a price-band heuristic "predicting"
      // order priority vs the actual label — one contingency collapse,
      // class-sized arithmetic after
      RegisteredQuery(
        "q_class_report",
        (s, dir) => graft.operators.ModelEval.classReport(
            Tables.resolve(s, dir)("orders")
              .withColumn("pred",
                expr("""CASE WHEN o_totalprice < 60000 THEN '1-URGENT'
                  WHEN o_totalprice < 120000 THEN '2-HIGH'
                  WHEN o_totalprice < 180000 THEN '3-MEDIUM'
                  WHEN o_totalprice < 240000 THEN '4-NOT SPECIFIED'
                  ELSE '5-LOW' END""")),
            "o_orderpriority", "pred")
          .orderBy("clazz"),
        Some(graft.operators.ModelEval.classReportOracle(
          "orders", "o_orderpriority",
          """CASE WHEN o_totalprice < 60000 THEN '1-URGENT'
  WHEN o_totalprice < 120000 THEN '2-HIGH'
  WHEN o_totalprice < 180000 THEN '3-MEDIUM'
  WHEN o_totalprice < 240000 THEN '4-NOT SPECIFIED'
  ELSE '5-LOW' END"""))),

      // chance-corrected Cohen's kappa over the same (true, pred) pair —
      // cross-multiplied exact integers, truncated for worse-than-chance
      RegisteredQuery(
        "q_kappa",
        (s, dir) => graft.operators.ModelEval.cohensKappa(
            Tables.resolve(s, dir)("orders")
              .withColumn("pred",
                expr("""CASE WHEN o_totalprice < 60000 THEN '1-URGENT'
                  WHEN o_totalprice < 120000 THEN '2-HIGH'
                  WHEN o_totalprice < 180000 THEN '3-MEDIUM'
                  WHEN o_totalprice < 240000 THEN '4-NOT SPECIFIED'
                  ELSE '5-LOW' END""")),
            "o_orderpriority", "pred"),
        Some(graft.operators.ModelEval.kappaOracleSql(
          "orders", "o_orderpriority",
          """CASE WHEN o_totalprice < 60000 THEN '1-URGENT'
  WHEN o_totalprice < 120000 THEN '2-HIGH'
  WHEN o_totalprice < 180000 THEN '3-MEDIUM'
  WHEN o_totalprice < 240000 THEN '4-NOT SPECIFIED'
  ELSE '5-LOW' END"""))),

      // per-query retrieval metrics over a deterministic synthetic run:
      // 5 queries x 200 docs with id-derived scores and relevance,
      // identical construction on both engines; score collisions
      // exercise the deterministic tiebreak at the cut
      RegisteredQuery(
        "q_retrieval_metrics",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          val qs = emb.where(expr("vec_id % 101 = 0"))
            .select(col("vec_id").as("q"))
          val ds = emb.where(col("vec_id") < 200)
            .select(col("vec_id").as("d"))
          val results = qs.crossJoin(ds)
            .withColumn("score", expr("(q * 31 + d * 17) % 997"))
          val rel = qs.crossJoin(ds).where(expr("(q + d) % 5 = 0"))
          graft.operators.RetrievalMetrics.atK(
              results, "q", "d", "score", rel, "q", "d", k = 10)
            .orderBy("q")
        },
        Some(graft.operators.RetrievalMetrics.oracleSql(
          resultsSql = """SELECT a.vec_id AS q, b.vec_id AS d,
    (a.vec_id * 31 + b.vec_id * 17) % 997 AS score
  FROM embeddings a JOIN embeddings b ON true
  WHERE a.vec_id % 101 = 0 AND b.vec_id < 200""",
          queryCol = "q", docCol = "d", scoreCol = "score",
          relevantSql = """SELECT a.vec_id AS q, b.vec_id AS d
  FROM embeddings a JOIN embeddings b ON true
  WHERE a.vec_id % 101 = 0 AND b.vec_id < 200
    AND (a.vec_id + b.vec_id) % 5 = 0""",
          rQueryCol = "q", rDocCol = "d", k = 10))),

      // graded NDCG@10 over the same synthetic run, grades 0-3 from the
      // id residue — per-term quantized log2 discount (the Drift
      // quantized-ln discipline), integer sums and division after
      RegisteredQuery(
        "q_ndcg",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          val qs = emb.where(expr("vec_id % 101 = 0"))
            .select(col("vec_id").as("q"))
          val ds = emb.where(col("vec_id") < 200)
            .select(col("vec_id").as("d"))
          val results = qs.crossJoin(ds)
            .withColumn("score", expr("(q * 31 + d * 17) % 997"))
          val judged = qs.crossJoin(ds)
            .withColumn("rel", expr("(q + d * 3) % 4"))
          graft.operators.RetrievalMetrics.ndcgAtK(
              results, "q", "d", "score", judged, "q", "d", "rel", k = 10)
            .orderBy("q")
        },
        Some(graft.operators.RetrievalMetrics.ndcgOracleSql(
          resultsSql = """SELECT a.vec_id AS q, b.vec_id AS d,
    (a.vec_id * 31 + b.vec_id * 17) % 997 AS score
  FROM embeddings a JOIN embeddings b ON true
  WHERE a.vec_id % 101 = 0 AND b.vec_id < 200""",
          queryCol = "q", docCol = "d", scoreCol = "score",
          judgedSql = """SELECT a.vec_id AS q, b.vec_id AS d,
    (a.vec_id + b.vec_id * 3) % 4 AS rel
  FROM embeddings a JOIN embeddings b ON true
  WHERE a.vec_id % 101 = 0 AND b.vec_id < 200""",
          jQueryCol = "q", jDocCol = "d", relCol = "rel", k = 10))),

      // exact Mann-Whitney ROC-AUC: does quantity separate returned from
      // kept lineitems per linestatus — heavy score ties exercise the
      // doubled-average-rank identity end-to-end
      RegisteredQuery(
        "q_roc_auc",
        // through the two-level rank decomposition (bucketWidth 8 over
        // the 1..50 qty domain — both window levels exercised); the
        // oracle stays the window form, which gates the identity
        (s, dir) => graft.operators.RocAuc.aucBucketed(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("bigint")),
            Seq("l_linestatus"), "qty",
            (col("l_returnflag") === "R").cast("long"), bucketWidth = 8)
          .orderBy("l_linestatus"),
        Some(graft.operators.RocAuc.oracleSql(
          "lineitem", Seq("l_linestatus"),
          scoreSql = "CAST(l_quantity AS BIGINT)",
          labelSql = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"))),

      // lead-lag cross-correlation: daily order count (x) vs daily order
      // cents (y) per priority across lags -3..3 — the which-metric-leads
      // screen, lag-replicated pair join + shared exact Pearson moments
      RegisteredQuery(
        "q_cross_corr",
        (s, dir) => graft.operators.CrossCorr.leadLag(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                datediff(col("o_orderdate").cast("date"),
                  lit("1970-01-01").cast("date")).cast("long").as("day"))
              .agg(count(lit(1)).cast("long").as("n_orders"),
                sum(cents("o_totalprice")).as("cents")),
            "o_orderpriority", "day", "n_orders", "cents", maxLag = 3)
          .drop("corr")
          .withColumn("corr_num", col("corr_num").cast("string"))
          .withColumn("var_x", col("var_x").cast("string"))
          .withColumn("var_y", col("var_y").cast("string"))
          .orderBy("o_orderpriority", "lag"),
        Some(graft.operators.CrossCorr.oracleSql(
          s"""(SELECT o_orderpriority,
    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
    count(*) AS n_orders,
    sum(${centsSql("o_totalprice")}) AS cents
  FROM orders GROUP BY 1, 2) daily""",
          "o_orderpriority", "day", "n_orders", "cents", maxLag = 3))),

      // exact Spearman rank correlation per returnflag: Pearson over
      // doubled average ranks (integer-exact tie handling; the 6-sum-d2
      // shortcut is wrong under ties), moments as canonical strings
      RegisteredQuery(
        "q_spearman",
        // through the two-level rank decomposition (widths sized per
        // axis: 8 over the 1..50 qty domain, 10^6 over cents — both
        // window levels exercised on both axes); oracle = window form
        (s, dir) => graft.operators.Spearman.correlationBucketed(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("bigint"))
              .withColumn("cents", cents("l_extendedprice")),
            Seq("l_returnflag"), "qty", "cents",
            xBucketWidth = 8, yBucketWidth = 1000000L)
          .drop("corr")
          .withColumn("corr_num", col("corr_num").cast("string"))
          .withColumn("var_x", col("var_x").cast("string"))
          .withColumn("var_y", col("var_y").cast("string"))
          .orderBy("l_returnflag"),
        Some(graft.operators.Spearman.oracleSql(
          "lineitem", Seq("l_returnflag"),
          xSql = "CAST(l_quantity AS BIGINT)",
          ySql = centsSql("l_extendedprice")))),

      // functional-dependency mining: which partkeys ship from multiple
      // suppliers — one partial-agg'd LHS groupBy, violation-sized output
      RegisteredQuery(
        "q_fd_check",
        (s, dir) => graft.operators.Profiling.fdViolations(
            Tables.resolve(s, dir)("lineitem"), Seq("l_partkey"), "l_suppkey")
          .orderBy("l_partkey"),
        Some(graft.operators.Profiling.fdViolationsOracle(
          "lineitem", Seq("l_partkey"), "l_suppkey"))),

      // join-key concentration (measure before you salt): key counts +
      // exact integer Herfindahl index from one groupBy + one key-sized agg
      RegisteredQuery(
        "q_skew_report",
        (s, dir) => graft.operators.Profiling.keyConcentration(
          Tables.resolve(s, dir)("lineitem"), Seq("l_suppkey")),
        Some(graft.operators.Profiling.keyConcentrationOracle(
          "lineitem", Seq("l_suppkey")))),

      // maintained quantile store: three batch folds of per-lang KLL
      // summaries must equal one continuous aggregation (carried parity
      // bits make the fold ≡ live aggregation; exact regime asserted)
      RegisteredQuery(
        "q_quantile_store",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          val maxPerLang = memoPrecondition("quantileStore", dir) {
            val row = docs.groupBy("lang").agg(count(lit(1)).as("n"))
              .agg(max(col("n"))).head
            if (row.isNullAt(0)) 0L else row.getLong(0)
          }
          require(maxPerLang < 4096,
            s"q_quantile_store exact-regime precondition broken: a lang has " +
              s"$maxPerLang docs >= 2k=4096 — the summary would compact and the " +
              "exact oracle comparison becomes meaningless; raise k")
          val store = freshStore(s, "quantile_store")
          (0 until 3).foreach { b =>
            graft.operators.QuantileStore.update(s, store,
              docs.where(pmod(col("doc_id"), lit(3)) === b),
              Seq("lang"), col("n_chars"), k = 2048)
          }
          graft.operators.QuantileStore.quantiles(
              graft.operators.QuantileStore.read(s, store),
              Seq("lang"), k = 2048, qs = Seq((1L, 2L), (9L, 10L)),
              names = Seq("p50_chars", "p90_chars"))
            .orderBy("lang")
        },
        Some("""SELECT lang,
quantile_disc(n_chars, 0.5) AS p50_chars,
quantile_disc(n_chars, 0.9) AS p90_chars
FROM documents GROUP BY lang ORDER BY lang""")),

      // A/B comparison: per-arm exact moments (one shuffle of three
      // decimal partials), control broadcast back; integer mean diffs
      // gated, Welch t spec-checked
      RegisteredQuery(
        "q_ab_test",
        (s, dir) => graft.operators.AbTest.compareToControl(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderstatus", "cents", controlArm = "O")
          .drop("welch_t").orderBy("arm"),
        Some(graft.operators.AbTest.oracleSql(
          "orders", "o_orderstatus",
          centsSql("o_totalprice"), "O"))),

      // heterogeneous treatment effects: the A/B readout within every
      // order-priority segment; control joins back keyed by segment
      RegisteredQuery(
        "q_ab_segmented",
        (s, dir) => graft.operators.AbTest.compareToControlBySegment(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "o_orderstatus", "cents", controlArm = "O")
          .drop("welch_t").orderBy("segment", "arm"),
        Some(graft.operators.AbTest.segmentedOracleSql(
          "orders", "o_orderpriority", "o_orderstatus",
          centsSql("o_totalprice"), "O"))),

      // CUPED-adjusted comparison: pooled θ from arms-sized moment sums,
      // raw and covariate-adjusted milli diffs side by side — all
      // truncating integer arithmetic
      RegisteredQuery(
        "q_ab_cuped",
        (s, dir) => graft.operators.AbTest.cupedCompare(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice"))
              .withColumn("x_days",
                datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")),
            "o_orderstatus", "cents", "x_days", controlArm = "O")
          .orderBy("arm"),
        Some(graft.operators.AbTest.cupedOracleSql(
          "orders", "o_orderstatus",
          centsSql("o_totalprice"),
          "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))", "O"))),

      // sample-ratio-mismatch tripwire: observed arm counts vs intended
      // per-mille-ish weights as exact cross-multiplied chi-square
      RegisteredQuery(
        "q_ab_srm",
        (s, dir) => graft.operators.AbTest.sampleRatioCheck(
            Tables.resolve(s, dir)("orders"), "o_orderstatus",
            Map("O" -> 49L, "F" -> 49L, "P" -> 2L))
          .orderBy("arm"),
        Some(graft.operators.AbTest.srmOracleSql(
          "orders", "o_orderstatus", Map("O" -> 49L, "F" -> 49L, "P" -> 2L)))),

      // windowed quantiles (the p95-per-hour SLA monitor): grouped KLL in
      // its exact regime over hourly buckets of milli-quantized values —
      // bounded summaries per (window, partition), no per-window sort
      RegisteredQuery(
        "q_windowed_quantiles",
        (s, dir) => {
          val e = Tables.resolve(s, dir)("events")
          val maxPerHour = memoPrecondition("windowedQuantiles", dir) {
            val row = e.groupBy(date_trunc("hour", col("ts"))).agg(count(lit(1)).as("n"))
              .agg(max(col("n"))).head
            if (row.isNullAt(0)) 0L else row.getLong(0)
          }
          require(maxPerHour < 256,
            s"q_windowed_quantiles exact-regime precondition broken: an hour has " +
              s"$maxPerHour events >= 2k=256 — the sketch would compress and the " +
              "exact oracle comparison becomes meaningless; regenerate or raise k")
          graft.functions.Quantiles.perGroup(
              e.withColumn("w_start", date_trunc("hour", col("ts")))
                .withColumn("__mv", (col("value").cast("decimal(18,3)") * 1000).cast("long")),
              Seq("w_start"), col("__mv"),
              k = 128, qs = Seq((1L, 2L), (19L, 20L)), names = Seq("p50_mv", "p95_mv"))
            .orderBy("w_start")
        },
        Some("""SELECT date_trunc('hour', ts) AS w_start,
quantile_disc(CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT), 0.5) AS p50_mv,
quantile_disc(CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT), 0.95) AS p95_mv
FROM events GROUP BY 1 ORDER BY 1""")),

      // one-call corpus data card: docs/tokens/langs/dup-rate from ONE
      // scan, melted to (metric, value) for cross-version diffing
      RegisteredQuery(
        "q_data_card",
        (s, dir) => graft.llm.CorpusReport.dataCard(
            Tables.resolve(s, dir)("documents"))
          .orderBy("metric"),
        Some(graft.llm.CorpusReport.dataCardOracle("documents"))),

      // value-distribution entropy in micro-nats (uniformity screen:
      // near-constant vs key-like columns), quantized-ln discipline
      RegisteredQuery(
        "q_col_entropy",
        (s, dir) => graft.operators.Profiling.columnEntropy(
          Tables.resolve(s, dir)("orders"), "o_orderpriority"),
        Some(graft.operators.Profiling.columnEntropyOracle(
          "orders", "o_orderpriority"))),

      // content-defined chunking: boundaries chosen by shingle-hash
      // content (shift-resistant, ≈16-token expected chunks), pure
      // scan-stage array surgery; chunk_fp enables chunk-level dedup
      RegisteredQuery(
        "q_cdc_chunks",
        (s, dir) => graft.text.Packing.cdcChunks(
            Tables.resolve(s, dir)("documents"), "doc_id", "text",
            n = 3, divisor = 16L)
          .orderBy("doc_id", "chunk_idx"),
        Some(graft.text.Packing.cdcChunksOracle(
          "documents", "doc_id", "text", n = 3, divisor = 16L))),

      // hybrid-retrieval rank fusion: two opposed per-lang rankings fused
      // by integer-quantized RRF — candidate-list-sized union, one
      // (query, doc) partial-agg'd shuffle
      RegisteredQuery(
        "q_rank_fusion",
        (s, dir) => {
          import org.apache.spark.sql.expressions.Window
          val d = Tables.resolve(s, dir)("documents")
          def sys(o: org.apache.spark.sql.Column*) = d
            .withColumn("r", row_number().over(Window.partitionBy("lang").orderBy(o: _*)))
            .where(col("r") <= 20).select("lang", "doc_id", "r")
          graft.text.RankFusion.rrf(
              Seq(sys(col("n_chars").asc, col("doc_id").asc),
                sys(col("n_chars").desc, col("doc_id").asc)),
              "lang", "doc_id", "r")
            .orderBy("lang", "doc_id")
        },
        Some(graft.text.RankFusion.oracleSql(Seq(
            "SELECT lang, doc_id, row_number() OVER " +
              "(PARTITION BY lang ORDER BY n_chars, doc_id) AS r " +
              "FROM documents QUALIFY r <= 20",
            "SELECT lang, doc_id, row_number() OVER " +
              "(PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r " +
              "FROM documents QUALIFY r <= 20"),
          "lang", "doc_id", "r"))),

      // referential-integrity audit: orphan scan against a parent with
      // every 7th key withheld (anti-join + one aggregate)
      RegisteredQuery(
        "q_fk_orphans",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          graft.operators.Profiling.fkOrphans(
            t("orders"),
            t("customer").where(col("c_custkey") % 7 =!= 0),
            "o_custkey", "c_custkey")
        },
        Some(graft.operators.Profiling.fkOrphansOracle(
          "orders", "SELECT c_custkey FROM customer WHERE c_custkey % 7 <> 0",
          "o_custkey", "c_custkey"))),

      // URL canonicalization + registrable domain (the on-ramp producing
      // the domain column the per-domain operators consume): synthesized
      // messy URLs exercise every rule; pure scan-stage string arithmetic
      RegisteredQuery(
        "q_url_canon",
        (s, dir) => {
          val idS = col("doc_id").cast("string")
          val u = concat(
            when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://WWW."))
              .otherwise(lit("HTTPS://")),
            upper(col("source")), lit(".Example.CO.UK"),
            when(pmod(col("doc_id"), lit(2)) === 0, lit(":80")).otherwise(lit(":8443")),
            lit("/Docs/"), idS, lit("/?z=9&id="), idS,
            lit("&lang="), col("lang"), lit("#s"))
          Tables.resolve(s, dir)("documents").select(
              col("doc_id"),
              graft.text.Urls.canonicalizeUrl(u).as("canon_url"),
              graft.text.Urls.host(u).as("host"),
              graft.text.Urls.registrableDomain(graft.text.Urls.host(u)).as("domain"))
            .orderBy("doc_id")
        },
        Some {
          val urlSql = "CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'HTTPS://' END" +
            " || upper(source) || '.Example.CO.UK'" +
            " || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':8443' END" +
            " || '/Docs/' || doc_id || '/?z=9&id=' || doc_id || '&lang=' || lang || '#s'"
          val h = graft.text.Urls.hostSql(urlSql)
          s"SELECT doc_id, ${graft.text.Urls.canonicalizeSql(urlSql)} AS canon_url, " +
            s"$h AS host, ${graft.text.Urls.registrableDomainSql(h)} AS domain " +
            "FROM documents ORDER BY doc_id"
        }),

      // PMI collocations: scan-stage bigram zip, one bigram shuffle,
      // vocabulary-sized count joins; identical IEEE double chain + one
      // quantized ln on both engines
      RegisteredQuery(
        "q_collocations",
        (s, dir) => graft.text.Collocations.pmi(
          Tables.resolve(s, dir)("documents"), "text", minCount = 5L),
        Some(graft.text.Collocations.oracleSql("documents", "text", minCount = 5L))),

      // event-type transition matrix over a bounded per-user prefix:
      // whale-safe FirstK aggregate (≤maxEvents per group-partition),
      // pairs from scan-stage array surgery, |types|^2-bounded count —
      // pure integers; truncation exercised cross-engine (avg events/user
      // exceeds the cut)
      RegisteredQuery(
        "q_event_transitions",
        (s, dir) => graft.llm.EventWindows.eventTransitions(
            Tables.resolve(s, dir)("events"),
            maxEvents = 8)
          .orderBy("from_type", "to_type"),
        Some(graft.llm.EventWindows.eventTransitionsOracle("events", maxEvents = 8))),

      // quantized Markov transition probabilities: the |types|²-bounded
      // matrix re-aggregated for per-from totals (no second corpus pass),
      // broadcast back, ⌊SCALE·n/Σ_from⌋ exact
      RegisteredQuery(
        "q_transition_probs",
        (s, dir) => graft.llm.EventWindows.transitionProbs(
            Tables.resolve(s, dir)("events"),
            maxEvents = 8)
          .orderBy("from_type", "to_type"),
        Some(graft.llm.EventWindows.transitionProbsOracle("events", maxEvents = 8))),

      // 2-D skyline (Pareto frontier): earliest-and-cheapest orders —
      // one groupBy(x) aggregate + a domain-bounded running min, never a
      // quadratic dominance join
      RegisteredQuery(
        "q_skyline",
        (s, dir) => graft.operators.Skyline.skyline2d(
            Tables.resolve(s, dir)("orders"), "o_orderdate", "o_totalprice")
          .select("o_orderkey", "o_orderdate", "o_totalprice"),
        Some(graft.operators.Skyline.oracleSql("orders", "o_orderdate",
          "o_totalprice", Seq("o_orderkey", "o_orderdate", "o_totalprice")))))
  }

  /** Query terms for the q_bm25 gate — drawn from the synthetic document
    * vocabulary with a spread of document frequencies (rare → stopword-
    * like, the latter exercising the negative-idf branch cross-engine).
    */
  private def Bm25QueryTerms: Seq[String] = Seq("spark", "vector", "merge", "table")

  /** Feature-engineering / validation operators (SURVEY L110+). */
  val featureOps: Seq[RegisteredQuery] = {
    import graft.operators._
    import org.apache.spark.sql.functions._

    Seq(
      // trailing 30-day spend per customer: one key exchange + spill-backed
      // per-key sort, integer-day RANGE frame, decimal-exact sums
      RegisteredQuery(
        "q_rolling_window",
        (s, dir) => RollingWindow.trailingByDays(
            Tables.resolve(s, dir)("orders"), "o_custkey", "o_orderdate",
            "o_totalprice", windowDays = 30)
          .select("o_orderkey", "o_custkey", "trail_n", "trail_sum"),
        Some(RollingWindow.oracleSql("orders", "o_custkey", "o_orderdate",
          "o_totalprice", windowDays = 30,
          keepCols = Seq("o_orderkey", "o_custkey")))),

      // hopping 2h windows slid hourly: scan-stage Expand (x2), ONE
      // partial-agg'd shuffle — tumbling's cost profile with overlap
      RegisteredQuery(
        "q_hopping_window",
        (s, dir) => graft.llm.EventWindows.hopping(
          Tables.resolve(s, dir)("events")),
        Some(graft.llm.EventWindows.hoppingOracle("events"))),

      // snapshot diff: one full-outer key join over two deterministic
      // variants of orders; churn-sized output, null-safe comparison
      RegisteredQuery(
        "q_snapshot_diff",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
          val old = o.where(col("o_orderkey") % 5 =!= 0)
          val nw = o.where(col("o_orderkey") % 7 =!= 0)
            .withColumn("o_totalprice",
              when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 10.0)
                .otherwise(col("o_totalprice")))
          SnapshotDiff.diff(old, nw, Seq("o_orderkey"),
              Seq("o_totalprice", "o_orderstatus"))
            .select(col("o_orderkey"), col("status"),
              array_join(col("diff_cols"), ",").as("diff_cols"))
        },
        Some(SnapshotDiff.oracleSql(
          oldSql = "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 5 <> 0",
          newSql = "SELECT o_orderkey, CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 7 <> 0",
          keyCols = Seq("o_orderkey"), compareCols = Seq("o_totalprice", "o_orderstatus"),
          // coalesce: DuckDB's array_to_string([]) is NULL where Spark's
          // array_join([]) is ''
          projectSql = "o_orderkey, status, coalesce(array_to_string(diff_cols, ','), '') AS diff_cols"))),

      // exact global deciles with no global sort: range repartition +
      // DenseIndex offsets + NTILE's integer size rule
      RegisteredQuery(
        "q_quantile_buckets",
        (s, dir) => QuantileBuckets.ntileExact(
            Tables.resolve(s, dir)("orders"), "o_totalprice", "o_orderkey", k = 10)
          .select("o_orderkey", "bucket"),
        Some(QuantileBuckets.oracleSql("orders", "o_totalprice", "o_orderkey",
          k = 10, keepCols = Seq("o_orderkey")))),

      // deterministic contrastive negatives: md5-arithmetic partner index
      // resolved by ONE equi-join on the dense id-order position
      RegisteredQuery(
        "q_negative_pairs",
        (s, dir) => graft.llm.NegativeSampling.negativePairs(
          Tables.resolve(s, dir)("documents"), "doc_id", k = 2),
        Some(graft.llm.NegativeSampling.oracleSql("documents", "doc_id", k = 2))),

      // per-group z-scores: three decimal partials per (group, partition),
      // one broadcast join back, IEEE-identical standardization chain
      RegisteredQuery(
        "q_zscore_outliers",
        (s, dir) => Outliers.zscore(
            Tables.resolve(s, dir)("orders"), "o_orderpriority", "o_totalprice",
            threshold = 1.5)
          .select("o_orderkey", "o_orderpriority", "z_scaled", "is_outlier"),
        Some(Outliers.oracleSql("orders", "o_orderpriority", "o_totalprice",
          threshold = 1.5, keepCols = Seq("o_orderkey", "o_orderpriority")))),

      // robust MAD outliers: two disc-median rank passes (quantile_disc
      // parity), exact long deviations, cross-multiplied integer flag
      RegisteredQuery(
        "q_mad_outliers",
        (s, dir) => Outliers.madOutliers(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "cents", "o_orderkey", kNum = 2L, kDen = 1L)
          .orderBy("o_orderpriority", "o_orderkey"),
        Some(Outliers.madOracleSql(
          s"(SELECT o_orderkey, o_orderpriority, ${centsSql("o_totalprice")} AS cents FROM orders)",
          "o_orderpriority", "cents", "o_orderkey", kNum = 2L, kDen = 1L))),

      // calendar densification: sparse (group, day) aggregate → dense
      // daily series with explicit zero rows over each group's span
      RegisteredQuery(
        "q_dense_series",
        (s, dir) => dailyCentsSpine(Tables.resolve(s, dir)("orders"))
          .orderBy("o_orderpriority", "day"),
        Some(graft.operators.DenseSeries.denseDailyOracle(
          "orders", "o_orderpriority", "o_orderdate",
          centsSql("o_totalprice")))),

      // per-column completeness by day: one aggregate, per-column null
      // counts unstacked; nulls injected deterministically (events are
      // fully dense) with IDENTICAL construction on both sides
      RegisteredQuery(
        "q_completeness",
        (s, dir) => graft.operators.Completeness.daily(
            Tables.resolve(s, dir)("events")
              .select(col("ts"),
                when(pmod(col("event_id"), lit(7)) =!= 0, col("value"))
                  .as("value"),
                when(pmod(col("event_id"), lit(11)) =!= 0, col("event_type"))
                  .as("event_type"),
                col("user_id")),
            "ts", Seq("value", "event_type", "user_id"))
          .orderBy("day", "col_name"),
        Some(graft.operators.Completeness.dailyOracle(
          """SELECT ts,
  CASE WHEN event_id % 7 <> 0 THEN value END AS value,
  CASE WHEN event_id % 11 <> 0 THEN event_type END AS event_type,
  user_id FROM events""",
          "ts", Seq("value", "event_type", "user_id")))),

      // calendar-exact day/week-over-week deltas over the dense spine
      RegisteredQuery(
        "q_wow_deltas",
        (s, dir) => graft.operators.Deltas.dayOverDay(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "o_orderdate", "cents")
          .orderBy("o_orderpriority", "day"),
        Some(graft.operators.Deltas.oracleSql(
          "orders", "o_orderpriority", "o_orderdate",
          centsSql("o_totalprice")))),

      // Pareto/ABC classification: exclusive-prefix share banding, exact
      // cross-multiplied thresholds, deterministic (value, id) rank
      RegisteredQuery(
        "q_abc_pareto",
        (s, dir) => graft.operators.Pareto.abcClassify(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "o_orderkey", "cents")
          .orderBy("o_orderpriority", "rank"),
        Some(graft.operators.Pareto.oracleSql(
          "orders", "o_orderpriority", "o_orderkey",
          centsSql("o_totalprice")))),

      // interval-union coverage: overlap-safe covered time per key via
      // the running-max sweep (derived overlapping order intervals)
      RegisteredQuery(
        "q_interval_coverage",
        (s, dir) => graft.operators.IntervalCoverage.coverage(
            Tables.resolve(s, dir)("orders")
              .withColumn("until",
                expr("date_add(o_orderdate, CAST(o_orderkey % 20 AS INT) + 1)")),
            "o_custkey", "o_orderdate", "until")
          .orderBy("o_custkey"),
        Some(graft.operators.IntervalCoverage.oracleSql(
          "(SELECT o_custkey, o_orderdate, CAST(o_orderdate AS DATE) + (CAST(o_orderkey % 20 AS INT) + 1) AS until FROM orders)",
          "o_custkey", "o_orderdate", "until"))),

      // MP3 frame-header metadata: ID3v2 syncsafe skip + Layer III header
      // decode against the version bitrate/rate tables; synthesized
      // payloads derive from table columns so the oracle recomputes
      // expected values without parsing (the q_media_dims discipline)
      RegisteredQuery(
        "q_mp3_meta",
        (s, dir) => {
          val kbpsIdx = expr("element_at(array(9, 11, 13, 14), CAST(doc_id % 4 AS INT) + 1)")
          val srIdx = expr("CAST(doc_id % 3 AS INT)")
          val b2 = lpad(hex(kbpsIdx * 16 + srIdx * 4), 2, "0")
          val b3 = expr("CASE WHEN doc_id % 2 = 0 THEN '00' ELSE 'C0' END")
          val frame = concat(lit("FFFB"), b2, b3,
            expr("repeat('00', CAST(n_chars % 50 AS INT) + 10)"))
          val tagLen = expr("CAST(doc_id % 5 AS INT)")
          val id3 = concat(lit("494433"), lit("0300"), lit("00"),
            lit("000000"), lpad(hex(tagLen), 2, "0"),
            expr("repeat('41', CAST(doc_id % 5 AS INT))"))
          val payload = when(pmod(col("doc_id"), lit(3)) === 0,
            concat(id3, frame)).otherwise(frame)
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"),
              graft.functions.AudioMeta(unhex(payload)).as("a"))
            .select(col("doc_id"), col("a.format").as("format"),
              col("a.channels").as("channels"),
              col("a.sample_rate").as("sample_rate"), col("a.bits").as("bits"),
              col("a.duration_ms").as("duration_ms"))
            .orderBy("doc_id")
        },
        Some("""SELECT doc_id, 'mp3' AS format,
  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS channels,
  CAST([44100, 48000, 32000][CAST(doc_id % 3 AS INT) + 1] AS INT) AS sample_rate,
  0 AS bits,
  CAST(((4 + n_chars % 50 + 10) * 8)
    // [128, 192, 256, 320][CAST(doc_id % 4 AS INT) + 1] AS BIGINT) AS duration_ms
FROM documents ORDER BY doc_id""")),

      // trailing-window distinct actives (DAU/WAU): distinct (key, day)
      // collapse, constant ×w window-end explode, exact count distinct
      RegisteredQuery(
        "q_trailing_actives",
        (s, dir) => graft.operators.TrailingActives.trailingActives(
            Tables.resolve(s, dir)("events"),
            "ts", "user_id", windowDays = 7)
          .orderBy("day"),
        Some(graft.operators.TrailingActives.oracleSql(
          "events", "ts", "user_id", windowDays = 7))),

      // maintained distinct-count store: KMV sketches fold exactly
      // (bottom-k closure), estimates replay deterministically
      RegisteredQuery(
        "q_distinct_store",
        (s, dir) => {
          val store = freshStore(s, "distinct_store")
          val docs = Tables.resolve(s, dir)("documents")
          (0 until 3).foreach { b =>
            graft.operators.DistinctStore.update(s, store,
              docs.where(pmod(col("doc_id"), lit(3)) === b),
              Seq("lang"), col("text"), k = 64)
          }
          graft.operators.DistinctStore.estimate(
              graft.operators.DistinctStore.read(s, store), Seq("lang"), k = 64)
            .orderBy("lang")
        },
        Some(graft.operators.DistinctStore.estimateOracle(
          "documents", "lang", "text", k = 64))),

      // Tukey boxplot fences: discrete quartiles, cross-multiplied
      // integer fences, low/high side labels
      RegisteredQuery(
        "q_tukey_fences",
        (s, dir) => Outliers.tukeyFences(
            Tables.resolve(s, dir)("events")
              .withColumn("mv",
                (col("value").cast("decimal(18,3)") * 1000).cast("long")),
            "event_type", "mv", "event_id")
          .orderBy("event_type", "event_id"),
        Some(Outliers.tukeyOracleSql(
          "(SELECT event_id, event_type, CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT) AS mv FROM events)",
          "event_type", "mv", "event_id"))),

      // trimmed mean: winsorize's deleting sibling — in-band decimal sum,
      // one truncating division
      RegisteredQuery(
        "q_trimmed_mean",
        (s, dir) => Outliers.trimmedMean(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "cents")
          .orderBy("o_orderpriority"),
        Some(Outliers.trimmedMeanOracleSql(
          s"(SELECT o_orderpriority, ${centsSql("o_totalprice")} AS cents FROM orders)",
          "o_orderpriority", "cents"))),

      // exact two-sample KS distance: distinct-value mass collapse, one
      // cross-multiplied cumulative walk, integer-scaled statistic
      RegisteredQuery(
        "q_ks_distance",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .withColumn("cents", cents("o_totalprice"))
          graft.operators.KsDistance.ksDistance(
            o.where(col("o_orderpriority") === "1-URGENT"),
            o.where(col("o_orderpriority") =!= "1-URGENT"),
            "cents")
        },
        Some(graft.operators.KsDistance.oracleSql(
          s"SELECT ${centsSql("o_totalprice")} AS cents FROM orders WHERE o_orderpriority = '1-URGENT'",
          s"SELECT ${centsSql("o_totalprice")} AS cents FROM orders WHERE o_orderpriority <> '1-URGENT'",
          "cents"))),

      // Benford first-digit audit: fixed milli-expectation table, exact
      // cross-multiplied deviations, zero-filled digit spine
      RegisteredQuery(
        "q_benford",
        (s, dir) => graft.operators.Benford.firstDigitAudit(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderstatus", "cents")
          .orderBy("o_orderstatus", "digit"),
        Some(graft.operators.Benford.oracleSql(
          "orders", "o_orderstatus",
          centsSql("o_totalprice")))),

      // activity streaks: distinct (user, day) collapse then gaps-and-
      // islands on the date-minus-rank anchor
      RegisteredQuery(
        "q_streaks",
        (s, dir) => graft.operators.Streaks.activityStreaks(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts")
          .orderBy("user_id"),
        Some(graft.operators.Streaks.oracleSql("events", "user_id", "ts"))),

      // step-interpolated time-weighted mean: lead-durations window, decimal
      // integral, one truncating division per group
      RegisteredQuery(
        "q_time_weighted",
        (s, dir) => graft.operators.TimeWeighted.timeWeightedMean(
            Tables.resolve(s, dir)("events")
              .withColumn("mv",
                (col("value").cast("decimal(18,3)") * 1000).cast("long")),
            "event_type", "ts", "mv", "event_id")
          .orderBy("event_type"),
        Some(graft.operators.TimeWeighted.oracleSql(
          "events", "event_type", "ts",
          "CAST(CAST(value AS DECIMAL(18,3)) * 1000 AS BIGINT)", "event_id"))),

      // mean-shift scan: exact cross-multiplied cumulative deviation,
      // max + earliest argmax from one struct reduction
      RegisteredQuery(
        "q_change_point",
        (s, dir) => graft.operators.ChangePoint.meanShiftScan(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "o_orderdate", "cents", "o_orderkey")
          .orderBy("o_orderpriority"),
        Some(graft.operators.ChangePoint.oracleSql(
          "orders", "o_orderpriority", "o_orderdate",
          centsSql("o_totalprice"), "o_orderkey"))),

      // weighted median: what the typical UNIT experienced — mass collapse
      // to distinct values, first cumulative-weight crossing, cumulative
      // axis decomposed two-level (near-unique cents domain would
      // otherwise ride one task per group; the decomposition is
      // algebraically the plain running sum, same oracle)
      RegisteredQuery(
        "q_weighted_median",
        (s, dir) => graft.operators.WeightedStats.weightedMedianBucketed(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("cents", cents("l_extendedprice"))
              .withColumn("qty", col("l_quantity").cast("long")),
            "l_returnflag", "cents", "qty", bucketWidth = 100000L)
          .orderBy("l_returnflag"),
        Some(graft.operators.WeightedStats.oracleSql(
          "lineitem", "l_returnflag",
          centsSql("l_extendedprice"),
          "CAST(l_quantity AS BIGINT)"))),

      // per-group winsorization: discrete-quantile clip band (quantile_disc
      // parity), broadcast cut table, scan-stage clipping
      RegisteredQuery(
        "q_winsorize_disc",
        (s, dir) => Outliers.winsorize(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "cents", "o_orderkey")
          .orderBy("o_orderpriority", "o_orderkey"),
        Some(Outliers.winsorizeOracleSql(
          s"(SELECT o_orderkey, o_orderpriority, ${centsSql("o_totalprice")} AS cents FROM orders)",
          "o_orderpriority", "cents", "o_orderkey"))),

      // kNN label-consistency audit: brute-force exact-integer neighbors,
      // partial-agg'd vote rollup, (−votes, label) majority tiebreak
      RegisteredQuery(
        "q_label_audit",
        (s, dir) => {
          val emb = Tables.resolve(s, dir)("embeddings")
          graft.llm.LabelAudit.labelConsistency(
              emb, emb.where(pmod(col("vec_id"), lit(10)) === 0), k = 7)
            .orderBy("vec_id")
        },
        Some(graft.llm.LabelAudit.oracleSql(
          "embeddings", "vec_id", "embedding", "label",
          queryPred = "vec_id % 10 = 0", k = 7, dim = 64))),

      // hamming-radius simhash self-join: pigeonhole band blocking (a
      // within-radius pair must agree exactly on one of maxHamming+1
      // disjoint bands), xor/bit_count verify — never all-pairs
      RegisteredQuery(
        "q_simhash_pairs",
        (s, dir) => graft.llm.Dedup.simhashPairs(
            Tables.resolve(s, dir)("documents"), "text", "doc_id", maxHamming = 2)
          .orderBy("left_id", "right_id"),
        Some(graft.llm.Dedup.simhashPairsOracle(
          "documents", "doc_id", "text", maxHamming = 2))),

      // SimHash estimator-quality audit: per banded candidate (including
      // beyond-radius ones), exact fingerprint hamming NEXT TO exact
      // shingle-set counts — pins fingerprint + banding + estimator
      // honesty on this corpus (the q_minhash_quality discipline)
      RegisteredQuery(
        "q_simhash_quality",
        (s, dir) => graft.llm.Dedup.simhashQuality(
            Tables.resolve(s, dir)("documents"), "text", "doc_id",
            maxHamming = 2)
          .orderBy("left_id", "right_id"),
        Some(graft.llm.Dedup.simhashQualityOracle(
          "documents", "doc_id", "text", maxHamming = 2))),

      // hashing-trick featurization: scan-stage md5 buckets, one
      // partial-agg'd (doc, bucket) shuffle, vocabulary-free
      RegisteredQuery(
        "q_feature_hash",
        (s, dir) => graft.text.FeatureHash.featurize(
          Tables.resolve(s, dir)("documents"), "doc_id", "text", dim = 64),
        Some(graft.text.FeatureHash.oracleSql("documents", "doc_id", "text", dim = 64))),

      // KLL-cutpoint quintiles: ONE sketch aggregate + broadcast cuts,
      // no repartition — the production path next to q_quantile_buckets'
      // exact rank; exact regime (capacity 2k=8192 ≥ corpus) is asserted
      RegisteredQuery(
        "q_bucket_cutpoints",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          val n = memoPrecondition("cutpoints", dir)(docs.count())
          require(n < 8192,
            s"q_bucket_cutpoints exact-regime precondition broken: $n documents " +
              ">= 2k=8192 — the sketch would compact and the exact oracle " +
              "comparison becomes meaningless; raise sketchK")
          graft.operators.QuantileBuckets.bucketByCutpoints(
              docs, "n_chars", k = 5, sketchK = 4096)
            .select("doc_id", "n_chars", "bucket")
        },
        Some(graft.operators.QuantileBuckets.cutpointsOracleSql(
          "documents", "CAST(n_chars AS BIGINT)", k = 5,
          keepCols = Seq("t.doc_id", "t.n_chars")))),

      // ISO-BMFF container metadata: synthetic MP4/MOV payloads (real box
      // tree — ftyp, a variable-length free box, moov with a sibling child
      // before mvhd, v0 AND v1 mvhd layouts) walked back by the native
      // video_meta expression in whole-stage codegen; oracle recomputes
      // from the embedding columns
      RegisteredQuery(
        "q_video_meta",
        (s, dir) => {
          def be(c: org.apache.spark.sql.Column, d: Int) = lpad(hex(c), d, "0")
          val ts = (pmod(col("n_chars"), lit(48000)) + 1000).cast("long")
          val dur = (pmod(col("doc_id"), lit(100000L)) * 600 + 1).cast("long")
          val rot = pmod(col("doc_id"), lit(3))
          val pad = pmod(col("doc_id"), lit(8)).cast("int")
          val brandHex = when(rot === 0, lit("69736F6D")) // isom
            .when(rot === 1, lit("71742020")) // 'qt  '
            .otherwise(lit("6D703432")) // mp42
          val ftyp = concat(lit("0000001066747970"), brandHex, lit("00000000"))
          val free = concat(be(pad + 8, 8), lit("66726565"),
            lit("00000000000000").substr(lit(1), (pad * 2).cast("int")))
          // rate, volume+reserved, reserved2(8B), unity matrix(36B),
          // pre_defined(24B), next_track — 80 bytes shared by v0 and v1
          val matrixHex = Seq("00010000", "00000000", "00000000",
            "00000000", "00010000", "00000000",
            "00000000", "00000000", "40000000").mkString
          val tailHex = "00010000" + "01000000" + ("0" * 16) + matrixHex +
            ("0" * 48) + "00000002"
          assert(tailHex.length == 160, s"mvhd tail ${tailHex.length}")
          val mvhdTail = lit(tailHex)
          val mvhdV0 = concat(lit("0000006C6D766864"), lit("00000000"),
            lit("0000000000000000"), be(ts, 8), be(dur, 8), mvhdTail)
          val mvhdV1 = concat(lit("000000786D766864"), lit("01000000"),
            lit("00000000000000000000000000000000"), be(ts, 8), be(dur, 16), mvhdTail)
          val moov = when(rot === 2,
              concat(lit("000000886D6F6F76"), lit("0000000866726565"), mvhdV1))
            .otherwise(concat(lit("0000007C6D6F6F76"), lit("0000000866726565"), mvhdV0))
          val payload = concat(ftyp, free, moov)
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"),
              graft.functions.VideoMeta(unhex(payload)).as("v"))
            .select(col("doc_id"),
              col("v").getField("brand").as("brand"),
              col("v").getField("timescale").as("timescale"),
              col("v").getField("duration").as("duration"),
              col("v").getField("duration_ms").as("duration_ms"))
            .orderBy("doc_id")
        },
        Some("""SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'qt  ' ELSE 'mp42' END AS brand,
  CAST(n_chars % 48000 + 1000 AS INT) AS timescale,
  CAST((doc_id % 100000) * 600 + 1 AS BIGINT) AS duration,
  ((doc_id % 100000) * 600 + 1) * 1000 // (n_chars % 48000 + 1000) AS duration_ms
FROM documents ORDER BY doc_id""")),

      // deflate compressibility filter: scan-stage native expression; no
      // SQL engine replays zlib, so the gate is rows-only (oracle = None,
      // the L7-style contract) and semantics are spec-pinned
      RegisteredQuery(
        "q_compression_ratio",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"),
            graft.functions.CompressionRatio(col("text")).as("ratio_bp"))
          .where(col("ratio_bp") > 0)
          .orderBy("doc_id"),
        // r8: no SQL replays zlib, but an INDEPENDENT derivation exists —
        // fixtures/ holds per-SF expected outputs computed by the C-zlib
        // python binding (raw deflate, level 6, wbits −15: the exact
        // Deflater(6, nowrap) configuration). The oracle dispatches on a
        // corpus checksum (sum of text lengths — the SFs share row counts)
        // and reads the matching fixture; an unknown corpus yields an
        // empty oracle → a LOUD mismatch, never a silent pass.
        Some("""SELECT doc_id, ratio_bp
FROM read_parquet('/root/repo/fixtures/compression_expected_sf0001.parquet')
WHERE (SELECT sum(length(text)) FROM documents) = 153156
UNION ALL
SELECT doc_id, ratio_bp
FROM read_parquet('/root/repo/fixtures/compression_expected_sf001.parquet')
WHERE (SELECT sum(length(text)) FROM documents) = 149174
UNION ALL
SELECT doc_id, ratio_bp
FROM read_parquet('/root/repo/fixtures/compression_expected_sf01.parquet')
WHERE (SELECT sum(length(text)) FROM documents) = 1485576
ORDER BY doc_id""")),

      // join-explosion guard: exact Σ nl·nr pre-check from two partial-
      // agg'd count aggregates, then the join Spark would have planned;
      // the raise path is spec-pinned, the pass-through hash-matches
      RegisteredQuery(
        "q_guarded_join",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          graft.operators.GuardedJoin.inner(
              t("orders"), t("customer").withColumnRenamed("c_custkey", "o_custkey"),
              Seq("o_custkey"), maxOutputRows = 10000000L)
            .select("o_orderkey", "o_custkey", "c_name")
        },
        Some("SELECT o_orderkey, o_custkey, c_name FROM orders " +
          "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey")),

      // sketch-tier join-size estimate: AMS inner product of two one-pass
      // CMS sketches — the 2 KB answer to GuardedJoin's exact pre-check
      RegisteredQuery(
        "q_join_estimate",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          GuardedJoin.estimateInnerRows(
            t("orders").select(col("o_custkey").as("k")),
            t("customer").select(col("c_custkey").as("k")),
            "k")
        },
        Some(GuardedJoin.estimateOracleSql(
          "(SELECT o_custkey AS k FROM orders)",
          "(SELECT c_custkey AS k FROM customer)", "k"))),

      // k-anonymity suppression: one quasi-id groupBy + a broadcast
      // null-safe anti-join against the under-k cohorts
      RegisteredQuery(
        "q_k_anonymity",
        (s, dir) => graft.operators.Anonymity.suppress(
            Tables.resolve(s, dir)("documents"), Seq("lang", "source"), k = 30L)
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
        Some(graft.operators.Anonymity.suppressOracleSql(
          "documents", Seq("lang", "source"), k = 30L,
          keepCols = Seq("doc_id", "lang", "source")))),

      // integer half-life recency decay: scan-stage bit-shift arithmetic,
      // bit-identical on any engine — no float pow/exp
      RegisteredQuery(
        "q_decay_score",
        (s, dir) => graft.operators.DecayScore.withDecay(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "cents", "o_orderdate", asOfDate = "1999-01-01", halfLifeDays = 365)
          .select("o_orderkey", "cents", "decayed"),
        Some(graft.operators.DecayScore.oracleSql(
          "orders",
          scoreSql = centsSql("o_totalprice"),
          dateSql = "o_orderdate", asOfDate = "1999-01-01", halfLifeDays = 365,
          keepCols = Seq("o_orderkey",
            s"${centsSql("o_totalprice")} AS cents")))),

      // touch attribution: conditional min/max STRUCT aggregates over a
      // RANGE frame — one user exchange, running frame state, no
      // events×events interval join
      RegisteredQuery(
        "q_attribution",
        (s, dir) => graft.llm.Attribution.firstLastTouch(
          Tables.resolve(s, dir)("events"),
          conversionType = "purchase"),
        Some(graft.llm.Attribution.oracleSql("events", "purchase"))),

      // PSI drift: two bucket-count aggregates + a buckets-sized join;
      // quantized-ln per-bucket contributions hash cross-engine
      RegisteredQuery(
        "q_psi_drift",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .withColumn("cents", cents("o_totalprice"))
          graft.operators.Drift.psiByBucket(
            o.where(col("o_orderkey") % 2 === 0),
            o.where(col("o_orderkey") % 2 =!= 0),
            "cents", PsiCuts)
        },
        Some(graft.operators.Drift.oracleSql(
          refSql = s"SELECT ${centsSql("o_totalprice")} AS cents " +
            "FROM orders WHERE o_orderkey % 2 = 0",
          curSql = s"SELECT ${centsSql("o_totalprice")} AS cents " +
            "FROM orders WHERE o_orderkey % 2 <> 0",
          valueCol = "cents", cuts = PsiCuts))),

      // BPE merge training: corpus collapses to word counts once, rounds
      // run vocabulary-sized; total-order pair selection is deterministic.
      // No SQL oracle for an N-round fixpoint — rows-only gate, reference
      // implementation in BpeTrainSpec
      RegisteredQuery(
        "q_bpe_merges",
        (s, dir) => graft.text.BpeTrain.learnMerges(
          Tables.resolve(s, dir)("documents"), "text", nMerges = 16, loopPartitions = 4),
        // r8: the N-round fixpoint replays in DuckDB as an unrolled
        // materialized-CTE chain — the gate is hash-checked, not rows-only
        Some(graft.text.BpeTrain.learnMergesOracle("documents", "text", 16))),

      // fastText-style linear scoring over hashed features: integer
      // milli-unit weights → exact, order-independent dot product; the
      // weight array rides the plan, scoring is scan-stage + featurize's
      // one shuffle
      RegisteredQuery(
        "q_linear_score",
        (s, dir) => graft.text.FeatureHash.scoreLinear(
          Tables.resolve(s, dir)("documents"), "doc_id", "text", GateWeights),
        Some(graft.text.FeatureHash.scoreOracleSql(
          "documents", "doc_id", "text", GateWeights))),

      // CCNet-style unigram-LM quality scoring: bounded top-300 vocab +
      // quantized-ln per-token costs; score pass is broadcast-join +
      // per-doc partial-agg'd sums (no raw-text shuffle)
      RegisteredQuery(
        "q_lm_score",
        (s, dir) => graft.text.UnigramLm.scoreSelf(
            Tables.resolve(s, dir)("documents"), vocabSize = 300)
          .orderBy("doc_id"),
        Some(graft.text.UnigramLm.oracleSql("documents", vocabSize = 300))),

      // token-budget corpus cut: rank by quantized mean NLL, keep docs
      // while the running token total fits — two-level score-bucketed
      // prefix sum (no total-order window over corpus rows); the oracle's
      // direct running sum proves the decomposition
      RegisteredQuery(
        "q_budget_select",
        (s, dir) => graft.text.BudgetSelect.selectByLmScore(
            Tables.resolve(s, dir)("documents"), vocabSize = 300, budget = 15000L)
          .orderBy("doc_id"),
        Some(graft.text.BudgetSelect.lmOracleSql(
          "documents", vocabSize = 300, budget = 15000L))),

      // per-domain token cap (dominance control before mixing): every
      // window in the plan is partitioned — (lang, score-bucket) rows,
      // (lang) bucket totals — so no group ever funnels its rows globally
      RegisteredQuery(
        "q_budget_per_group",
        (s, dir) => {
          val d = Tables.resolve(s, dir)("documents")
          graft.text.BudgetSelect.capPerGroup(
              d, "doc_id", "lang", "n_chars",
              graft.text.TextFunctions.nTokens(col("text")), budget = 5000L)
            .orderBy("doc_id")
        },
        Some(graft.text.BudgetSelect.capPerGroupOracle(
          "SELECT doc_id, lang, n_chars, " +
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
          "doc_id", "lang", "n_chars", budget = 5000L))),

      // domain-interleaved training order: global round-robin positions
      // computed arithmetically (per-domain rank + broadcast domain
      // inventory) — the oracle's global window proves the formula
      RegisteredQuery(
        "q_interleave",
        (s, dir) => graft.operators.Interleave.byDomain(
            Tables.resolve(s, dir)("documents").select("doc_id", "lang"),
            "lang", Seq(col("doc_id")))
          .orderBy("doc_id"),
        Some(graft.operators.Interleave.oracleSql(
          "SELECT doc_id, lang FROM documents", "doc_id", "lang"))),

      // weighted corpus mixing: per-mille domain weights split a total
      // token budget (integer arithmetic), es carries no weight and is
      // excluded; per-domain budgets ride as a scan-stage map lookup
      RegisteredQuery(
        "q_corpus_mix",
        (s, dir) => graft.text.BudgetSelect.mixByWeights(
            Tables.resolve(s, dir)("documents"), "doc_id", "lang", "n_chars",
            graft.text.TextFunctions.nTokens(col("text")),
            MixWeights, totalBudget = 12000L)
          .orderBy("doc_id"),
        Some(graft.text.BudgetSelect.mixOracle(
          "SELECT doc_id, lang, n_chars, " +
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
          "doc_id", "lang", "n_chars", MixWeights, totalBudget = 12000L))),

      // peak concurrency: +1/−1 sweep over the q_interval_coverage
      // intervals — max simultaneous open orders per customer and the
      // first instant the max is reached
      RegisteredQuery(
        "q_peak_concurrency",
        (s, dir) => graft.operators.Concurrency.peak(
            Tables.resolve(s, dir)("orders")
              .withColumn("until",
                expr("date_add(o_orderdate, CAST(o_orderkey % 20 AS INT) + 1)")),
            "o_custkey", "o_orderdate", "until")
          .orderBy("o_custkey"),
        Some(graft.operators.Concurrency.oracleSql(
          "(SELECT o_custkey, o_orderdate, CAST(o_orderdate AS DATE) + (CAST(o_orderkey % 20 AS INT) + 1) AS until FROM orders)",
          "o_custkey", "o_orderdate", "until"))),

      // grid-blocked spatial radius join over deterministic planar
      // customer coordinates (quadratic/cubic residues mod a prime — a
      // LINEAR congruential derivation puts every point on a 1-D torus
      // lattice with no close pairs and a vacuous zero-row gate); the
      // oracle is a BRUTE-FORCE pair scan, so hash equality proves the
      // 3×3 cell blocking lossless (346 pairs at sf0.01)
      RegisteredQuery(
        "q_spatial_pairs",
        (s, dir) => graft.operators.SpatialJoin.radiusPairs(
            Tables.resolve(s, dir)("customer")
              .withColumn("x", expr("(c_custkey * c_custkey * 31) % 10007"))
              .withColumn("y", expr("(c_custkey * c_custkey * c_custkey) % 10007")),
            "c_custkey", "x", "y", 100L)
          .orderBy("id_a", "id_b"),
        Some(graft.operators.SpatialJoin.oracleSql(
          "(SELECT c_custkey, (c_custkey * c_custkey * 31) % 10007 AS x, (c_custkey * c_custkey * c_custkey) % 10007 AS y FROM customer)",
          "c_custkey", "x", "y", 100L))),

      // integer Flesch readability over the corpus with deterministic
      // sentence terminators injected by plain (regex-free) replace —
      // identical construction on both sides, the piiInjected discipline
      RegisteredQuery(
        "q_readability",
        (s, dir) => graft.text.Readability.flesch(
            Tables.resolve(s, dir)("documents").withColumn("text",
              expr("replace(replace(text, ' value ', '. value '), ' fast ', '! fast ')")),
            "doc_id", "text")
          .orderBy("doc_id"),
        Some(graft.text.Readability.oracleSql(
          "(SELECT doc_id, replace(replace(text, ' value ', '. value '), ' fast ', '! fast ') AS text FROM documents)",
          "doc_id", "text"))),

      // golden-record survivorship: synthetic duplicate clusters
      // (custkey % 500) with deterministically NULLed attributes; per-
      // attribute election = (non-null, recency desc, id asc)
      RegisteredQuery(
        "q_golden_record",
        (s, dir) => graft.operators.Survivorship.goldenRecords(
            Tables.resolve(s, dir)("customer")
              .withColumn("cluster", expr("c_custkey % 500"))
              .withColumn("rec", expr("c_custkey % 11"))
              .withColumn("c_name",
                expr("CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END"))
              .withColumn("c_mktsegment",
                expr("CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END"))
              .withColumn("c_acctbal",
                expr("CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END")),
            "cluster", "c_custkey", "rec",
            Seq("c_name", "c_mktsegment", "c_acctbal"))
          .orderBy("cluster"),
        Some(graft.operators.Survivorship.oracleSql(
          """(SELECT c_custkey, c_custkey % 500 AS cluster, c_custkey % 11 AS rec,
  CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_name END AS c_name,
  CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment,
  CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal
  FROM customer)""",
          "cluster", "c_custkey", "rec",
          Seq("c_name", "c_mktsegment", "c_acctbal")))),

      // l-diversity + t-closeness over the k-anonymity cohorts: exact
      // integer TVD (the categorical EMD) in basis points against the
      // corpus-wide sensitive distribution
      RegisteredQuery(
        "q_l_diversity",
        (s, dir) => graft.operators.Anonymity.diversityAudit(
            Tables.resolve(s, dir)("documents")
              .withColumn("sens",
                expr("concat('c', CAST(n_chars % 5 AS STRING))")),
            Seq("lang", "source"), "sens")
          .orderBy("lang", "source"),
        Some(graft.operators.Anonymity.diversityOracleSql(
          "(SELECT lang, source, 'c' || CAST(n_chars % 5 AS VARCHAR) AS sens FROM documents)",
          Seq("lang", "source"), "sens"))),

      // seasonal-naive forecast backtest on the q_wow_deltas dense spine:
      // MASE in basis points — does "same day last week" beat "yesterday"
      RegisteredQuery(
        "q_forecast_backtest",
        (s, dir) => graft.operators.Backtest.seasonalNaive(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "o_orderdate", "cents", season = 7)
          .orderBy("o_orderpriority"),
        Some(graft.operators.Backtest.oracleSql(
          "orders", "o_orderpriority", "o_orderdate",
          centsSql("o_totalprice"), season = 7))),

      // Markov next-event backtest: train the transition model before the
      // cut, score top-1 successor accuracy on the post-cut stream
      RegisteredQuery(
        "q_markov_backtest",
        (s, dir) => graft.llm.MarkovBacktest.backtest(
            Tables.resolve(s, dir)("events"),
            "2024-01-22 00:00:00")
          .orderBy("from_type"),
        Some(graft.llm.MarkovBacktest.oracleSql(
          "events", "2024-01-22 00:00:00"))),

      // event debounce at a 12h cooldown (~20% of the stream collapses):
      // kept burst leaders + the storm audit twin
      RegisteredQuery(
        "q_debounce",
        (s, dir) => graft.llm.Debounce.debounced(
            Tables.resolve(s, dir)("events"),
            43200000000L)
          .orderBy("event_id"),
        Some(graft.llm.Debounce.debouncedOracle("events", 43200000000L))),
      RegisteredQuery(
        "q_burst_stats",
        (s, dir) => graft.llm.Debounce.burstStats(
            Tables.resolve(s, dir)("events"),
            43200000000L)
          .orderBy("user_id", "event_type", "first_us"),
        Some(graft.llm.Debounce.burstStatsOracle("events", 43200000000L))),

      // item-item squared-cosine neighbors over the q_cooccurrence
      // baskets: exact 1e-8-unit similarity, no square root (719 pairs
      // at sf0.01 over the 0.005 sim² cut)
      RegisteredQuery(
        "q_item_cosine",
        (s, dir) => graft.operators.CoOccurrence.cosineNeighbors(
            Tables.resolve(s, dir)("lineitem"), "l_orderkey", "l_partkey",
            minCount = 2, minSim2E8 = 500000L, maxBasket = 100)
          .orderBy("item_a", "item_b"),
        Some(graft.operators.CoOccurrence.cosineOracle(
          "lineitem", "l_orderkey", "l_partkey",
          minCount = 2, minSim2E8 = 500000L, maxBasket = 100))),

      // cohort LTV curves over orders: integer month indices, ages
      // densified to the shared corpus horizon, truncating per-member
      // division — cents fixed from the decimal price identically on
      // both sides
      RegisteredQuery(
        "q_cohort_ltv",
        (s, dir) => graft.operators.CohortLtv.curves(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_custkey", "o_orderdate", "cents")
          .orderBy("cohort_month", "age_months"),
        Some(graft.operators.CohortLtv.oracleSql(
          "orders", "o_custkey", "o_orderdate",
          centsSql("o_totalprice")))),

      // TRUE k-core (fixpoint peel) of the sparse co-purchase graph
      // (quantity >= 45 keeps ~1.7k edges at sf0.01): converges in 5
      // sweeps there, 9 at sf0.1; maxRounds is PINNED to the oracle's
      // 12-round unroll so a graph needing more throws loudly instead of
      // silently hash-diverging from the bounded oracle (a fixpoint is
      // stable, so unrolled rounds past convergence are identity)
      RegisteredQuery(
        "q_kcore",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 45)
          graft.operators.KCore.peelToFixpoint(edges, "src", "dst", k = 3,
              maxRounds = 12)
            .orderBy("vertex")
        },
        Some(graft.operators.KCore.oracleSql(
          coPurchaseEdgesSql(45), k = 3, rounds = 12))),

      // bounded nearest neighbor over the q_spatial_pairs scattered
      // points at r=200: grid-blocked rank-1 election vs the brute-force
      // oracle — hash equality proves the blocking finds the true nearest
      RegisteredQuery(
        "q_nearest_neighbor",
        (s, dir) => graft.operators.SpatialJoin.nearestNeighbor(
            Tables.resolve(s, dir)("customer")
              .withColumn("x", expr("(c_custkey * c_custkey * 31) % 10007"))
              .withColumn("y", expr("(c_custkey * c_custkey * c_custkey) % 10007")),
            "c_custkey", "x", "y", 200L)
          .orderBy("id"),
        Some(graft.operators.SpatialJoin.nearestOracleSql(
          "(SELECT c_custkey, (c_custkey * c_custkey * 31) % 10007 AS x, (c_custkey * c_custkey * c_custkey) % 10007 AS y FROM customer)",
          "c_custkey", "x", "y", 200L))),

      // streaming dimension enrichment, driver-faced: three IN-ORDER
      // date-range micro-batches (the Scd2 strict fold contract) each
      // fold the dimension then enrich that range's facts against the
      // store AS OF the fold — enriched lake ≡ one-shot temporal join
      // (valid_from is fold-stable; interim valid_to never escapes the
      // select)
      RegisteredQuery(
        "q_dim_enrich",
        (s, dir) => {
          val store = freshStore(s, "dim_enrich_store")
          val out = freshStore(s, "dim_enrich_out")
          val o = Tables.resolve(s, dir)("orders")
          val c0 = lit("1997-01-01").cast("timestamp")
          val c1 = lit("1999-01-01").cast("timestamp")
          val ranges = Seq(
            col("o_orderdate") < c0,
            col("o_orderdate") >= c0 && col("o_orderdate") < c1,
            col("o_orderdate") >= c1)
          ranges.foreach { r =>
            val chunk = o.where(r)
            graft.operators.Scd2.update(s, store,
              chunk.select(col("o_custkey").as("k"),
                col("o_orderstatus").as("status"),
                col("o_orderdate").as("eff"), col("o_orderkey").as("seq")),
              "k", Seq("status"), "eff", "seq")
            graft.streaming.DimEnrich.enrichBatch(
              chunk.select(col("o_orderkey"), col("o_custkey").as("k"),
                col("o_orderdate").as("ft")),
              store, "k", "ft", out)
          }
          s.read.parquet(out)
            .select("o_orderkey", "k", "status", "valid_from")
            .orderBy("o_orderkey")
        },
        Some(s"""WITH dim AS (${graft.operators.Scd2.buildOracleBody("orders", "o_custkey",
            Seq(("o_orderstatus", "status")), "o_orderdate", "o_orderkey")})
SELECT o.o_orderkey, o.o_custkey AS k, d.status, d.valid_from
FROM orders o JOIN dim d ON o.o_custkey = d.k
  AND o.o_orderdate >= d.valid_from
  AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
ORDER BY o.o_orderkey""")),

      // streaming quantile ingest, driver-faced: four micro-batches
      // through QuantileStore.update (the foreachBatch body of `start`)
      // at a SMALL k over fine (lang, source) groups — the persisted-k
      // path at a different operating point than q_quantile_store; the
      // per-group count stays inside the exact regime (< 2k) at both SFs
      RegisteredQuery(
        "q_quantile_ingest",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          val maxPerGroup = {
            val row = docs.groupBy("lang", "source")
              .agg(count(lit(1)).as("n")).agg(max(col("n"))).head
            if (row.isNullAt(0)) 0L else row.getLong(0)
          }
          require(maxPerGroup < 512,
            s"q_quantile_ingest exact-regime precondition broken: a (lang, " +
              s"source) group has $maxPerGroup docs >= 2k=512 — raise k")
          val store = freshStore(s, "quantile_ingest")
          (0 until 4).foreach { b =>
            graft.operators.QuantileStore.update(s, store,
              docs.where(pmod(col("doc_id"), lit(4)) === b),
              Seq("lang", "source"), col("n_chars"), k = 256)
          }
          graft.operators.QuantileStore.quantiles(
              graft.operators.QuantileStore.read(s, store),
              Seq("lang", "source"), k = 256,
              qs = Seq((1L, 4L), (3L, 4L)),
              names = Seq("p25_chars", "p75_chars"))
            .orderBy("lang", "source")
        },
        Some("""SELECT lang, source,
quantile_disc(n_chars, 0.25) AS p25_chars,
quantile_disc(n_chars, 0.75) AS p75_chars
FROM documents GROUP BY lang, source ORDER BY lang, source""")),

      // ANN recall, driver-visible end-to-end: deterministic integer IVF
      // (centroid codes = int8 of fixed corpus vectors) — the Spark side
      // intersects the real partial-probe result with brute-force top-k;
      // the oracle replays via the containment identity (a true neighbor
      // is recalled iff its list is probed)
      RegisteredQuery(
        "q_ann_recall",
        (s, dir) => graft.llm.AnnRecall.int8IvfRecall(
            Tables.resolve(s, dir)("embeddings"),
            Tables.resolve(s, dir)("embeddings").where(col("vec_id") < 8),
            Seq(5L, 61L, 117L, 173L, 229L, 285L, 341L, 397L),
            k = 5, nProbe = 2)
          .orderBy("query_id"),
        Some(graft.llm.AnnRecall.oracleSql(
          "embeddings", "vec_id", "embedding", "vec_id < 8",
          Seq(5L, 61L, 117L, 173L, 229L, 285L, 341L, 397L),
          k = 5, nProbe = 2, dim = 64))),

      // multi-source bounded-hop BFS over the sparse co-purchase graph:
      // blast radius of the %97 seed parts within 3 hops (layer sizes
      // 21/28/68/123 at sf0.01); unrolled MATERIALIZED-CTE oracle
      RegisteredQuery(
        "q_bfs_hops",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 45)
          val seeds = Tables.resolve(s, dir)("part")
            .where(expr("p_partkey % 97 = 0"))
            .select(col("p_partkey").as("seed"))
          graft.operators.BfsHops.distances(edges, "src", "dst",
              seeds, "seed", maxHops = 3)
            .orderBy("vertex")
        },
        Some(graft.operators.BfsHops.oracleSql(
          coPurchaseEdgesSql(45),
          "SELECT p_partkey AS seed FROM part WHERE p_partkey % 97 = 0",
          maxHops = 3))),

      // bounded weighted shortest paths over the same sparse co-purchase
      // graph as q_bfs_hops, weights a symmetric function of the edge's
      // part keys; Spark relaxes only the frontier, the oracle replays
      // FULL per-round relaxation — hash equality proves the cut
      RegisteredQuery(
        "q_shortest_path",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 45,
              expr("(a.l_partkey + b.l_partkey) % 7 + 1").as("w"))
          val seeds = Tables.resolve(s, dir)("part")
            .where(expr("p_partkey % 97 = 0"))
            .select(col("p_partkey").as("seed"))
          graft.operators.ShortestPath.distances(edges, "src", "dst", "w",
              seeds, "seed", maxHops = 4)
            .orderBy("vertex")
        },
        Some(graft.operators.ShortestPath.oracleSql(
          coPurchaseEdgesSql(45, "(a.l_partkey + b.l_partkey) % 7 + 1 AS w"),
          "SELECT p_partkey AS seed FROM part WHERE p_partkey % 97 = 0",
          maxHops = 4))),

      // diff-in-diff: even-custkey "treated" orders pre/post 1998 vs the
      // odd-custkey control — exact micro-unit cell algebra, one grand
      // aggregate of eight conditional partials
      RegisteredQuery(
        "q_diff_in_diff",
        (s, dir) => graft.operators.DiffInDiff.did(
            Tables.resolve(s, dir)("orders")
              .withColumn("t", expr("o_custkey % 2 = 0"))
              .withColumn("p",
                col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
              .withColumn("cents", cents("o_totalprice")),
            "t", "p", "cents"),
        Some(graft.operators.DiffInDiff.oracleSql(
          "orders", "o_custkey % 2 = 0",
          "o_orderdate >= TIMESTAMP '1998-01-01'",
          centsSql("o_totalprice")))),

      // lag-7 autocorrelation of daily order counts per priority — the
      // weekly-rhythm screen; exact pair-join moments, integer index
      RegisteredQuery(
        "q_autocorr",
        (s, dir) => graft.operators.Autocorr.lagCorrelation(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                datediff(col("o_orderdate").cast("date"),
                  lit("1970-01-01").cast("date")).cast("long").as("day"))
              .agg(count(lit(1)).cast("long").as("n_orders")),
            "o_orderpriority", "day", "n_orders", lag = 7)
          .drop("corr")
          .withColumn("corr_num", col("corr_num").cast("string"))
          .withColumn("var_x", col("var_x").cast("string"))
          .withColumn("var_y", col("var_y").cast("string"))
          .orderBy("o_orderpriority"),
        Some(graft.operators.Autocorr.oracleSql(
          "(SELECT o_orderpriority, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day, CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1, 2) d",
          "o_orderpriority", "day", "n_orders", lag = 7))),

      // association rules over the order baskets: directed confidence +
      // lift in exact 1e-8 units, 20% confidence cut after the exact
      // arithmetic
      RegisteredQuery(
        "q_assoc_rules",
        (s, dir) => graft.operators.CoOccurrence.rules(
            Tables.resolve(s, dir)("lineitem"), "l_orderkey", "l_partkey",
            minCount = 2, minConfE8 = 20000000L, maxBasket = 100)
          .orderBy("antecedent", "consequent"),
        Some(graft.operators.CoOccurrence.rulesOracle(
          "lineitem", "l_orderkey", "l_partkey",
          minCount = 2, minConfE8 = 20000000L, maxBasket = 100))),

      // discrete-time churn hazard with honest right-censoring: per
      // lifetime age, at-risk / churned / censored counts and the exact
      // 1e-8 hazard — horizon-month users censored, never churned
      RegisteredQuery(
        "q_churn_hazard",
        (s, dir) => graft.operators.Churn.hazardCurve(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts")
          .orderBy("age_months"),
        Some(graft.operators.Churn.oracleSql("events", "user_id", "ts"))),

      // Kaplan-Meier survival in log space over the same event stream:
      // per-age quantized ln terms summed as exact integers (the product
      // estimator itself is float-unreplayable), NULL past exact zero
      RegisteredQuery(
        "q_km_survival",
        (s, dir) => graft.operators.Churn.kmSurvivalDaily(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts")
          .orderBy("age_days"),
        Some(graft.operators.Churn.kmDailyOracleSql(
          "events", "user_id", "ts"))),

      // local clustering coefficient over the co-purchase graph: exact
      // 2T/(d(d-1)) in 1e-8 units, degree-1 vertices NULL by contract
      RegisteredQuery(
        "q_clustering_coeff",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 30)
          graft.operators.Triangles.clusteringCoefficient(edges)
            .orderBy("id")
        },
        Some(graft.operators.Triangles.clusteringOracle(
          coPurchaseEdgesSql(30)))),

      // personalized PageRank seeded at the %97 parts over the
      // bidirectional part-supplier graph: restart mass only on seeds,
      // same exact integer recurrence and unrolled-CTE replay
      RegisteredQuery(
        "q_ppr",
        (s, dir) => {
          val li = Tables.resolve(s, dir)("lineitem")
          val fwd = li.select(col("l_partkey").as("src"),
            (col("l_suppkey") + 100000000L).as("dst")).distinct()
          val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
          val seeds = Tables.resolve(s, dir)("part")
            .where(expr("p_partkey % 97 = 0"))
            .select(col("p_partkey").as("seed"))
          graft.operators.GraphRank.personalizedPageRankInt(
              edges, seeds, "seed", iters = 5)
            .orderBy("id")
        },
        Some(graft.operators.GraphRank.personalizedOracleSql(
          """SELECT src, dst FROM (SELECT DISTINCT l_partkey AS src, l_suppkey + 100000000 AS dst FROM lineitem)
  UNION ALL
  SELECT dst AS src, src AS dst FROM (SELECT DISTINCT l_partkey AS src, l_suppkey + 100000000 AS dst FROM lineitem)""",
          "SELECT p_partkey AS seed FROM part WHERE p_partkey % 97 = 0",
          iters = 5))),

      // smoothed (empirical-Bayes) target encoding of order priority
      // against cents: rare categories shrink toward the global mean;
      // exact micro rational via cross-multiplication by the global N
      RegisteredQuery(
        "q_target_smoothed",
        (s, dir) => graft.operators.TargetEncode.smoothedMean(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "cents", m = 20)
          .orderBy("category"),
        Some(graft.operators.TargetEncode.smoothedOracle(
          "orders", "o_orderpriority",
          centsSql("o_totalprice"),
          m = 20))),

      // leave-one-out target encoding per order row — the leakage-safe
      // training-time form (a row's own target never enters its feature)
      RegisteredQuery(
        "q_target_loo",
        (s, dir) => graft.operators.TargetEncode.looMean(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderkey", "o_orderpriority", "cents")
          .orderBy("id"),
        Some(graft.operators.TargetEncode.looOracle(
          "orders", "o_orderkey", "o_orderpriority",
          centsSql("o_totalprice")))),

      // class-imbalance audit + sklearn-style balanced weights over the
      // corpus language labels, exact 1e-8 integers
      RegisteredQuery(
        "q_class_weights",
        (s, dir) => graft.operators.ClassBalance.balancedWeights(
            Tables.resolve(s, dir)("documents"), "lang")
          .orderBy("label"),
        Some(graft.operators.ClassBalance.oracleSql("documents", "lang"))),

      // state-run compaction of the event stream: consecutive same-type
      // events per user collapse to runs (RLE log compaction)
      RegisteredQuery(
        "q_state_runs",
        (s, dir) => graft.llm.StateRuns.collapse(
            Tables.resolve(s, dir)("events"))
          .orderBy("user_id", "run_seq"),
        Some(graft.llm.StateRuns.oracleSql("events"))),

      // volume-weighted P90 price: the general weighted quantile at the
      // integer fraction 9/10 via the two-level decomposed cumulative
      RegisteredQuery(
        "q_weighted_p90",
        (s, dir) => graft.operators.WeightedStats.weightedQuantileBucketed(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("cents", cents("l_extendedprice"))
              .withColumn("qty", col("l_quantity").cast("long")),
            "l_returnflag", "cents", "qty", qNum = 9, qDen = 10,
            bucketWidth = 100000L)
          .orderBy("l_returnflag"),
        Some(graft.operators.WeightedStats.quantileOracleSql(
          "lineitem", "l_returnflag",
          centsSql("l_extendedprice"),
          "CAST(l_quantity AS BIGINT)", qNum = 9, qDen = 10))),

      // U-shaped multi-touch attribution at a 2h lookback: every touch
      // credited 40/20/40 in exact basis points via the grid-bucketed
      // interval join (never an inequality nested loop)
      RegisteredQuery(
        "q_ushape_attrib",
        (s, dir) => graft.llm.Attribution.uShapedCredit(
            Tables.resolve(s, dir)("events"),
            conversionType = "purchase", lookback = "2 hours")
          .orderBy("conversion_id", "touch_id"),
        Some(graft.llm.Attribution.uShapedOracle(
          "events", "purchase"))),

      // connected components to fixpoint by min-label propagation over
      // the qty>=42 co-purchase graph (12 rounds / 14 components at
      // sf0.01); maxRounds pinned to the oracle's 14-round unroll
      RegisteredQuery(
        "q_connected_components",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 42)
          graft.operators.MinLabel.components(edges, "src", "dst",
              maxRounds = 14)
            .orderBy("vertex")
        },
        Some(graft.operators.MinLabel.oracleSql(
          coPurchaseEdgesSql(42), rounds = 14))),

      // validity-interval conformance over deterministically messy
      // synthetic versions (order spans per customer bucket): overlap /
      // gap / open-mid counts, violation-sized output
      RegisteredQuery(
        "q_interval_audit",
        (s, dir) => graft.operators.IntervalAudit.audit(
            Tables.resolve(s, dir)("orders")
              .withColumn("k", expr("o_custkey % 1000"))
              .withColumn("vt", expr(
                "CASE WHEN o_orderkey % 5 = 0 THEN NULL " +
                  "ELSE o_orderdate + make_dt_interval(CAST(o_orderkey % 5 AS INT)) END")),
            "k", "o_orderdate", "vt", "o_orderkey")
          .orderBy("key"),
        Some(graft.operators.IntervalAudit.oracleSql(
          "(SELECT o_custkey % 1000 AS k, o_orderdate, o_orderkey, " +
            "CASE WHEN o_orderkey % 5 = 0 THEN NULL " +
            "ELSE o_orderdate + INTERVAL 1 DAY * (o_orderkey % 5) END AS vt " +
            "FROM orders) iv",
          "k", "o_orderdate", "vt", "o_orderkey"))),

      // per-vertex neighbor-degree features over the co-purchase graph:
      // hub-vs-leaf structural profile, exact micro mean
      RegisteredQuery(
        "q_neighbor_stats",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 45)
          graft.operators.NeighborStats.degreeStats(edges, "src", "dst")
            .orderBy("vertex")
        },
        Some(graft.operators.NeighborStats.oracleSql(
          coPurchaseEdgesSql(45)))),

      // CDC net-effect compaction over a deterministic synthetic op log
      // (orderkey%7 picks the op): one net op per key, I-then-D vanishes
      RegisteredQuery(
        "q_cdc_compact",
        (s, dir) => graft.operators.CdcCompact.netEffect(
            Tables.resolve(s, dir)("orders")
              .withColumn("k", expr("o_custkey % 2000"))
              .withColumn("op", expr(
                "CASE WHEN o_orderkey % 7 = 0 THEN 'D' " +
                  "WHEN o_orderkey % 7 IN (1, 2) THEN 'I' ELSE 'U' END"))
              .withColumn("cents", cents("o_totalprice")),
            "k", "o_orderkey", "op", Seq("o_orderstatus", "cents"))
          .orderBy("key"),
        Some(graft.operators.CdcCompact.oracleSql(
          "(SELECT o_custkey % 2000 AS k, o_orderkey, o_orderstatus, " +
            s"${centsSql("o_totalprice")} AS cents, " +
            "CASE WHEN o_orderkey % 7 = 0 THEN 'D' " +
            "WHEN o_orderkey % 7 IN (1, 2) THEN 'I' ELSE 'U' END AS op " +
            "FROM orders) cdc",
          "k", "o_orderkey", "op", Seq("o_orderstatus", "cents")))),

      // hierarchical share-of-parent: priority within status, status
      // within the grand total — exact 1e-8 shares on the leaf rows
      RegisteredQuery(
        "q_share_of_parent",
        (s, dir) => graft.operators.ShareOfParent.shares(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderstatus", "o_orderpriority", "cents")
          .orderBy("parent", "child"),
        Some(graft.operators.ShareOfParent.oracleSql(
          "orders", "o_orderstatus", "o_orderpriority",
          centsSql("o_totalprice")))),

      // embedding-space outlier screen: per-row exact n-scaled distance
      // to the declared stratum's centroid (vec_id%7 synthetic strata) —
      // the mean never materializes, ranking within a group is exact
      RegisteredQuery(
        "q_embed_outliers",
        (s, dir) => graft.llm.EmbeddingOps.centroidDist2(
            Tables.resolve(s, dir)("embeddings")
              .withColumn("grp", expr("vec_id % 7")),
            "vec_id", "grp", "embedding")
          .orderBy("id"),
        Some(graft.llm.EmbeddingOps.centroidDist2Oracle(
          "(SELECT vec_id, embedding, vec_id % 7 AS grp FROM embeddings) emb",
          "vec_id", "grp", "embedding", dim = 64))),

      // year-over-year rank movers of customer buckets by revenue:
      // deterministic row_number ranks, debut/dropout NULLs
      RegisteredQuery(
        "q_rank_movers",
        (s, dir) => graft.operators.RankMovers.movers(
            Tables.resolve(s, dir)("orders")
              .withColumn("bucket", expr("o_custkey % 500"))
              .withColumn("yr", year(col("o_orderdate")).cast("string"))
              .withColumn("cents", cents("o_totalprice")),
            "bucket", "yr", "cents", "1996", "1997")
          .orderBy("entity"),
        Some(graft.operators.RankMovers.oracleSql(
          "orders", "o_custkey % 500", "CAST(year(o_orderdate) AS VARCHAR)",
          centsSql("o_totalprice"),
          "1996", "1997"))),

      // impossible-travel screen over deterministically scattered event
      // coordinates: cross-multiplied speed bound, violation-sized
      // output (27 flagged pairs of ~10k at sf0.01)
      RegisteredQuery(
        "q_impossible_travel",
        (s, dir) => graft.operators.Travel.impossible(
            Tables.resolve(s, dir)("events")
              .withColumn("x", expr("(event_id * event_id * 37) % 20011"))
              .withColumn("y", expr("(event_id * event_id * event_id) % 20011")),
            "user_id", "ts", "event_id", "x", "y",
            vNum = 1, vDen = 10000)
          .orderBy("user", "event_id"),
        Some(graft.operators.Travel.oracleSql(
          "events", "user_id", "ts", "event_id",
          "(event_id * event_id * 37) % 20011",
          "(event_id * event_id * event_id) % 20011",
          vNum = 1, vDen = 10000))),

      // exact per-group mode of the quantity column — the value the
      // Misra-Gries sketch approximates, elected by struct-max with the
      // smallest-value tie rule
      RegisteredQuery(
        "q_group_mode",
        (s, dir) => graft.operators.Mode.perGroup(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("long")),
            "l_returnflag", "qty")
          .orderBy("group"),
        Some(graft.operators.Mode.oracleSql(
          "lineitem", "l_returnflag", "CAST(l_quantity AS BIGINT)"))),

      // categorical PSI between the corpus halves over the source label —
      // each category IS its bucket, same quantized-ln chain as the
      // numeric PSI; NULL psi_q is the new/vanished-category signal
      RegisteredQuery(
        "q_psi_categorical",
        (s, dir) => {
          val docs = Tables.resolve(s, dir)("documents")
          graft.operators.Drift.psiCategorical(
              docs.where(pmod(col("doc_id"), lit(2)) === 0),
              docs.where(pmod(col("doc_id"), lit(2)) === 1),
              "source")
            .orderBy("category")
        },
        Some(graft.operators.Drift.categoricalOracle(
          "SELECT * FROM documents WHERE doc_id % 2 = 0",
          "SELECT * FROM documents WHERE doc_id % 2 = 1",
          "source"))),

      // binary-conversion A/B readout: fulfilled-order rate per priority
      // arm vs the MEDIUM control — exact cross-multiplied micro rates
      RegisteredQuery(
        "q_ab_conversion",
        (s, dir) => graft.operators.AbTest.conversionCompare(
            Tables.resolve(s, dir)("orders")
              .withColumn("conv", col("o_orderstatus") === "F"),
            "o_orderpriority", "conv", controlArm = "3-MEDIUM")
          .orderBy("arm"),
        Some(graft.operators.AbTest.conversionOracle(
          "orders", "o_orderpriority", "o_orderstatus = 'F'",
          controlArm = "3-MEDIUM"))),

      // MinHash estimator-quality audit: per banded candidate pair, the
      // exact signature-agreement count next to the exact Jaccard set
      // counts — pins the sketch end-to-end on this corpus (the
      // q_ann_recall discipline for the near-dup family)
      RegisteredQuery(
        "q_minhash_quality",
        (s, dir) => graft.llm.Dedup.minhashQuality(
            Tables.resolve(s, dir)("documents"), "text", "doc_id")
          .orderBy("left_id", "right_id"),
        Some(graft.llm.Dedup.minhashQualityOracle(
          "documents", "doc_id", "text"))),

      // D1/D7/D30 bounded-return retention per first-day cohort, with
      // honest right-censoring (young cohorts report NULL, not a
      // falsely-final count)
      RegisteredQuery(
        "q_dn_retention",
        (s, dir) => graft.operators.Retention.dnRetention(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts")
          .orderBy("cohort_day"),
        Some(graft.operators.Retention.dnOracle("events", "user_id", "ts"))),

      // time-in-state shares over the collapsed run log: state persists
      // to the next run's start, last run censored at its final event
      RegisteredQuery(
        "q_state_shares",
        (s, dir) => graft.llm.StateRuns.stateShares(
            Tables.resolve(s, dir)("events"))
          .orderBy("user_id", "event_type"),
        Some(graft.llm.StateRuns.stateSharesOracle("events"))),

      // clock-skew / sequence-inversion audit: events whose timestamps
      // run backward along the event-id order, per user — telemetry
      // quality, violation-keyed output
      RegisteredQuery(
        "q_clock_skew",
        (s, dir) => graft.operators.Monotonic.inversions(
            Tables.resolve(s, dir)("events")
              .withColumn("ts_us",
                unix_micros(col("ts").cast("timestamp"))),
            "user_id", "event_id", "ts_us")
          .orderBy("key"),
        Some(graft.operators.Monotonic.oracleSql(
          "events", "user_id", "event_id", "epoch_us(ts)"))),

      // cross-strata embedding separation matrix over the vec_id%7
      // groups: exact (n_a·n_b)²-scaled centroid distances — the "do my
      // labels carve the space" readout
      RegisteredQuery(
        "q_embed_separation",
        (s, dir) => graft.llm.EmbeddingOps.centroidSeparation(
            Tables.resolve(s, dir)("embeddings")
              .withColumn("grp", expr("vec_id % 7")),
            "grp", "embedding")
          .orderBy("grp_a", "grp_b"),
        Some(graft.llm.EmbeddingOps.centroidSeparationOracle(
          "(SELECT embedding, vec_id % 7 AS grp FROM embeddings) emb",
          "grp", "embedding", dim = 64))),

      // double-charge screen (operator composition): orders of the SAME
      // customer with the SAME cents amount within 7 days — the keyed
      // grid-bucketed interval join, never an inequality nested loop
      RegisteredQuery(
        "q_double_charge",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .withColumn("cents", cents("o_totalprice"))
          val left = o.select(col("o_orderkey").as("first_key"),
            col("o_custkey").as("cust_a"), col("cents").as("cents_a"),
            col("o_orderdate").as("__t0"))
            .withColumn("__t1", col("__t0") + expr("INTERVAL 7 DAYS"))
          val pts = o.select(col("o_orderkey").as("second_key"),
            col("o_custkey").as("cust_b"), col("cents").as("cents_b"),
            col("o_orderdate").as("__tp"))
          graft.operators.RangeJoin.intervalJoin(
              pts, left, "__tp", "__t0", "__t1",
              on = Seq("cust_b" -> "cust_a", "cents_b" -> "cents_a"),
              bucket = "7 days", halfOpen = false)
            .where(col("first_key") < col("second_key"))
            .select(col("cust_a").as("custkey"), col("cents_a").as("cents"),
              col("first_key"), col("second_key"))
            .orderBy("custkey", "first_key", "second_key")
        },
        Some(s"""SELECT a.o_custkey AS custkey,
  ${centsSql("a.o_totalprice")} AS cents,
  a.o_orderkey AS first_key, b.o_orderkey AS second_key
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
  AND CAST(a.o_totalprice AS DECIMAL(18,2)) = CAST(b.o_totalprice AS DECIMAL(18,2))
  AND a.o_orderkey < b.o_orderkey
  AND b.o_orderdate >= a.o_orderdate
  AND b.o_orderdate <= a.o_orderdate + INTERVAL 7 DAY
ORDER BY custkey, first_key, second_key""")),

      // cumulative-unique growth curve: first-occurrence collapse →
      // debut counts → running sum over the dense per-group day spine
      RegisteredQuery(
        "q_growth_curve",
        (s, dir) => graft.operators.GrowthCurve.cumulativeUniques(
            Tables.resolve(s, dir)("orders")
              .withColumn("day_b",
                datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")),
            Seq("o_orderpriority"), "o_custkey", "day_b")
          .orderBy("o_orderpriority", "bucket"),
        Some(graft.operators.GrowthCurve.oracleSql(
          "orders", Seq("o_orderpriority"), "o_custkey",
          "CAST(o_orderdate AS DATE) - DATE '1970-01-01'"))),

      // seasonal indexes: exact cross-multiplied position-mean /
      // grand-mean ratios in 1e-6 units (monthly profile per priority)
      RegisteredQuery(
        "q_seasonal_idx",
        (s, dir) => graft.operators.Seasonal.indexes(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice"))
              .withColumn("mon", month(col("o_orderdate")).cast("long")),
            Seq("o_orderpriority"), "mon", "cents")
          .orderBy("o_orderpriority", "pos"),
        Some(graft.operators.Seasonal.oracleSql(
          "orders", Seq("o_orderpriority"),
          "CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT)",
          centsSql("o_totalprice")))),

      // HLL distinct: the full Flajolet estimator replayed exactly —
      // md5 registers, HUGEINT harmonic sum, cross-multiplied branch;
      // custkey exercises linear counting, orderkey the raw branch;
      // exact distinct rides along as the estimator-quality readout
      RegisteredQuery(
        "q_hll_distinct",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
          def leg(vc: String, tag: String) = {
            val est = graft.operators.HllDistinct.estimate(
              o, Seq("o_orderpriority"), vc)
            val ex = o.where(col(vc).isNotNull).groupBy("o_orderpriority")
              .agg(count_distinct(col(vc)).as("exact_distinct"))
            est.join(ex, Seq("o_orderpriority"))
              .withColumn("metric", lit(tag))
          }
          leg("o_custkey", "custkey").unionByName(leg("o_orderkey", "orderkey"))
            .orderBy("metric", "o_orderpriority")
        },
        Some {
          def leg(vc: String, tag: String) =
            s"""SELECT e.*, x.exact_distinct, '$tag' AS metric
FROM (${graft.operators.HllDistinct.oracleSql(
              "orders", Seq("o_orderpriority"), vc)}) e
JOIN (SELECT o_orderpriority, CAST(count(DISTINCT $vc) AS BIGINT)
    AS exact_distinct FROM orders GROUP BY 1) x USING (o_orderpriority)"""
          s"""SELECT * FROM (${leg("o_custkey", "custkey")}
UNION ALL
${leg("o_orderkey", "orderkey")})
ORDER BY metric, o_orderpriority"""
        }),

      // integer EWMA over the dense daily spine: per-step truncating
      // recurrence (inherently sequential — the array-fold posture),
      // replayed by DuckDB list_reduce over the same sorted array
      RegisteredQuery(
        "q_exp_smooth",
        (s, dir) => graft.operators.ExpSmooth.smooth(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"),
                datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
                col("sum_value").as("x")),
            "o_orderpriority", "i", "x", alphaNum = 3, alphaDen = 10)
          .orderBy("o_orderpriority", "idx"),
        Some(graft.operators.ExpSmooth.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", alphaNum = 3, alphaDen = 10))),

      // per-doc corpus-duplicated shingle share: the duplication profile
      // between Repetition (within-page) and the dedup family (pairs) —
      // exact df counts over distinct (doc, fingerprint) pairs
      RegisteredQuery(
        "q_dup_share",
        (s, dir) => graft.text.CorpusDup.duplicatedShare(
            Tables.resolve(s, dir)("documents"), "doc_id", "text")
          .orderBy("doc_id"),
        Some(graft.text.CorpusDup.oracleSql("documents", "doc_id", "text"))),

      // exact regression eval: a deterministic id-derived "model"
      // (coarse target + jitter + constant bias) scored per priority —
      // exercises positive R2, nonzero bias, per-row-floored MAPE
      RegisteredQuery(
        "q_regression_eval",
        (s, dir) => graft.operators.ModelEval.regressionReport(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice"))
              .withColumn("pred",
                call_function("div", col("cents"), lit(1000L)) * 1000L +
                  pmod(col("o_orderkey"), lit(997L)) * 100L - lit(49850L)),
            Seq("o_orderpriority"), "cents", "pred")
          .orderBy("o_orderpriority"),
        Some(graft.operators.ModelEval.regressionOracle(
          s"""(SELECT o_orderpriority,
  ${centsSql("o_totalprice")} AS cents,
  (${centsSql("o_totalprice")} // 1000) * 1000
    + (o_orderkey % 997) * 100 - 49850 AS pred
FROM orders)""",
          Seq("o_orderpriority"), "cents", "pred"))),

      // Holt level+trend smoothing over the dense daily spine — the
      // forecasting member of the fold family (alpha=3/10, beta=1/10)
      RegisteredQuery(
        "q_holt_smooth",
        (s, dir) => graft.operators.ExpSmooth.holt(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"),
                datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
                col("sum_value").as("x")),
            "o_orderpriority", "i", "x",
            alphaNum = 3, alphaDen = 10, betaNum = 1, betaDen = 10)
          .orderBy("o_orderpriority", "idx"),
        Some(graft.operators.ExpSmooth.holtOracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", alphaNum = 3, alphaDen = 10,
          betaNum = 1, betaDen = 10))),

      // Adamic-Adar link prediction over the qty>=30 co-purchase graph
      // (the q_clustering_coeff edge set): open wedges ranked by
      // rare-shared-neighbor weight, hub centers cut at deg 40
      RegisteredQuery(
        "q_link_pred",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 30)
          graft.operators.LinkPredict.adamicAdar(
              edges, maxDeg = 40, minCommon = 3)
            .orderBy("src", "dst")
        },
        Some(graft.operators.LinkPredict.oracleSql(
          coPurchaseEdgesSql(30),
          maxDeg = 40, minCommon = 3))),

      // Zipf rank-frequency slope per language — corpus health against
      // the law itself (quantized-ln pairs into the exact OLS moments)
      RegisteredQuery(
        "q_zipf_slope",
        (s, dir) => graft.text.ZipfLaw.rankFrequencySlope(
            Tables.resolve(s, dir)("documents"), "lang", "text", topN = 500)
          .orderBy("lang"),
        Some(graft.text.ZipfLaw.oracleSql(
          "documents", "lang", "lang", "text", topN = 500))),

      // chat-transcript schema audit over id-derived synthetic SFT
      // conversations (IDENTICAL construction both sides): every 3rd doc
      // gets a system turn, every 5th a role break, every 11th an empty
      // turn, every 13th truncated JSON — all flags exercised
      RegisteredQuery(
        "q_chat_audit",
        (s, dir) => graft.llm.ChatAudit.audit(
            Tables.resolve(s, dir)("documents")
              .withColumn("__k", expr("CAST(doc_id % 4 AS INT) + 2"))
              .withColumn("__c0", expr("""concat('[',
  CASE WHEN doc_id % 3 = 0
       THEN '{"role":"system","content":"sys"},' ELSE '' END,
  array_join(transform(sequence(0, __k - 1), j -> concat(
    '{"role":"',
    CASE WHEN doc_id % 5 = 0 AND j = __k - 1 THEN 'user'
         WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END,
    '","content":"',
    CASE WHEN doc_id % 11 = 0 AND j = 0 THEN ''
         ELSE concat('m', CAST(doc_id AS STRING), '-', CAST(j AS STRING))
    END,
    '"}')), ','),
  ']')"""))
              .withColumn("convo", expr("""CASE WHEN doc_id % 13 = 0
  THEN substring(__c0, 1, length(__c0) - 2) ELSE __c0 END""")),
            "doc_id", "convo")
          .orderBy("doc_id"),
        Some(graft.llm.ChatAudit.oracleSql(
          """(SELECT doc_id, CASE WHEN doc_id % 13 = 0
  THEN substring(c0, 1, length(c0) - 2) ELSE c0 END AS convo FROM (
SELECT doc_id, '[' ||
  (CASE WHEN doc_id % 3 = 0
        THEN '{"role":"system","content":"sys"},' ELSE '' END) ||
  array_to_string(list_transform(range(0, CAST(doc_id % 4 AS INT) + 2), j ->
    '{"role":"' ||
    (CASE WHEN doc_id % 5 = 0 AND j = CAST(doc_id % 4 AS INT) + 1 THEN 'user'
          WHEN j % 2 = 0 THEN 'user' ELSE 'assistant' END) ||
    '","content":"' ||
    (CASE WHEN doc_id % 11 = 0 AND j = 0 THEN ''
          ELSE 'm' || CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)
     END) ||
    '"}'), ',') || ']' AS c0
FROM documents))""",
          "doc_id", "convo"))),

      // two-sided CUSUM drift monitor over the dense daily spine:
      // the max(0,...) recurrence as pure prefix algebra (no fold)
      RegisteredQuery(
        "q_cusum",
        (s, dir) => graft.operators.Cusum.twoSided(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"), datediff(col("day"),
                lit("1970-01-01")).cast("long").as("i"),
                col("sum_value").as("x")),
            "o_orderpriority", "i", "x",
            k = 20000000L, h = 100000000L)
          .orderBy("o_orderpriority", "idx"),
        Some(graft.operators.Cusum.oracleSql(
          s"""SELECT o_orderpriority,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", k = 20000000L, h = 100000000L))),

      // BH-FDR decisions over an id-derived p-value fleet per language:
      // uniform nulls plus a planted small-p signal in every 10th doc —
      // cross-multiplied step-up, per-term-floored q-values
      RegisteredQuery(
        "q_fdr_bh",
        (s, dir) => graft.operators.Fdr.bhDecisions(
            Tables.resolve(s, dir)("documents")
              .withColumn("p_raw",
                expr("(doc_id * 2654435761L) % 1000001"))
              .withColumn("p", expr(
                "CASE WHEN doc_id % 10 = 0 THEN p_raw div 9973 ELSE p_raw END")),
            "lang", "doc_id", "p", alphaNum = 1, alphaDen = 20)
          .orderBy("lang", "rk"),
        Some(graft.operators.Fdr.oracleSql(
          """SELECT lang, doc_id,
  CASE WHEN doc_id % 10 = 0
       THEN ((doc_id * 2654435761) % 1000001) // 9973
       ELSE (doc_id * 2654435761) % 1000001 END AS p
FROM documents""",
          "lang", "doc_id", alphaNum = 1, alphaDen = 20))),

      // log-rank survival comparison over id-derived durations with a
      // PLANTED arm effect (odd-custkey subjects fail twice as fast)
      // and %6 censoring — identical construction both sides, a rich
      // 30-point event-time axis
      RegisteredQuery(
        "q_log_rank",
        (s, dir) => LogRank.logRank(
            Tables.resolve(s, dir)("orders").select(
              when(pmod(col("o_custkey"), lit(2)) === 0, "even")
                .otherwise("odd").as("arm"),
              when(pmod(col("o_custkey"), lit(2)) === 0,
                pmod(col("o_orderkey"), lit(30)) + 1)
                .otherwise(call_function("div",
                  pmod(col("o_orderkey"), lit(30)) + 1, lit(2L)) + 1)
                .as("dur"),
              when(pmod(col("o_orderkey"), lit(6)) === 0, 0L).otherwise(1L)
                .as("ev")),
            "arm", "dur", "ev", armA = "even", armB = "odd"),
        Some(LogRank.oracleSql(
          """SELECT CASE WHEN o_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
  CASE WHEN o_custkey % 2 = 0 THEN o_orderkey % 30 + 1
       ELSE (o_orderkey % 30 + 1) // 2 + 1 END AS dur,
  CASE WHEN o_orderkey % 6 = 0 THEN 0 ELSE 1 END AS ev
FROM orders""",
          armA = "even", armB = "odd"))),

      // Heaps' law vocabulary-growth exponent per language — the other
      // corpus law (first-occurrence collapse, no running distinct)
      RegisteredQuery(
        "q_heaps_slope",
        (s, dir) => graft.text.ZipfLaw.vocabularyGrowthSlope(
            Tables.resolve(s, dir)("documents"), "lang", "doc_id", "text")
          .orderBy("lang"),
        Some(graft.text.ZipfLaw.vocabularyGrowthOracle(
          "documents", "lang", "lang", "doc_id", "text"))),

      // one-pass correlation matrix: four quantized lineitem measures,
      // six exact pair components from ONE corpus scan per group
      RegisteredQuery(
        "q_corr_matrix",
        (s, dir) => CorrMatrix.matrix(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("long"))
              .withColumn("cents", cents("l_extendedprice"))
              .withColumn("disc_bp",
                (col("l_discount").cast("decimal(9,4)") * 10000)
                  .cast("long"))
              .withColumn("tax_bp",
                (col("l_tax").cast("decimal(9,4)") * 10000).cast("long")),
            Seq("l_returnflag"), Seq("qty", "cents", "disc_bp", "tax_bp"))
          .orderBy("l_returnflag", "col_a", "col_b"),
        Some(CorrMatrix.oracleSql("lineitem", Seq("l_returnflag"), Seq(
          "qty" -> "CAST(l_quantity AS BIGINT)",
          "cents" -> centsSql("l_extendedprice"),
          "disc_bp" -> "CAST(CAST(l_discount AS DECIMAL(9,4)) * 10000 AS BIGINT)",
          "tax_bp" -> "CAST(CAST(l_tax AS DECIMAL(9,4)) * 10000 AS BIGINT)")))),

      // Markov removal-effect attribution: purchase-truncated paths,
      // 6-round quantized absorption walk, each channel knocked out
      RegisteredQuery(
        "q_markov_attrib",
        (s, dir) => graft.llm.MarkovAttribution.removalEffects(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts", "event_type", "event_id",
            convType = "purchase", rounds = 6)
          .orderBy("channel"),
        Some(graft.llm.MarkovAttribution.oracleSql(
          "events", "user_id", "ts", "event_type", "event_id",
          convType = "purchase", rounds = 6))),

      // streaming CUSUM alarms, driver-faced: three date-range chunks of
      // the dense daily series through the real AlarmIngest fold — the
      // alarm lake hash-matches the one-shot two-sided monitor (window
      // state folds exactly: P' = P + Sigma, M' = min(M, P + min prefix))
      RegisteredQuery(
        "q_alarm_ingest",
        (s, dir) => {
          val store = freshStore(s, "alarm_ingest_gate_store")
          val lake = freshStore(s, "alarm_ingest_gate_lake")
          val dense = dailyCentsSpine(Tables.resolve(s, dir)("orders"))
            .select(col("o_orderpriority"),
              datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
              col("sum_value").as("x"))
            .localCheckpoint(true)
          Seq(col("i") < 10000L,
            col("i") >= 10000L && col("i") < 11000L,
            col("i") >= 11000L).foreach { cut =>
            graft.streaming.AlarmIngest.ingestBatch(
              dense.where(cut), store, lake, "o_orderpriority", "i", "x",
              k = 20000000L, h = 100000000L)
          }
          s.read.parquet(lake)
            .select(col("o_orderpriority"), col("idx"), col("s_pos"),
              col("s_neg"), col("alarm_up"), col("alarm_dn"))
            .orderBy("o_orderpriority", "idx")
        },
        Some(graft.operators.Cusum.oracleSql(
          s"""SELECT o_orderpriority,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", k = 20000000L, h = 100000000L))),

      // per-key lifetime counters, driver-faced: three event-id chunks
      // through the real mapGroupsWithState fold (initial-state overload
      // seeds each chunk with the store) — final state hash-matches the
      // one-shot batch aggregate because count + exact micro-sum are
      // commutative Long algebra
      RegisteredQuery(
        "q_stateful_ingest",
        (s, dir) => {
          val store = freshStore(s, "stateful_ingest_gate_store")
          val ev = Tables.resolve(s, dir)("events")
            .localCheckpoint(true)
          Seq(col("event_id") % 3 === 0, col("event_id") % 3 === 1,
            col("event_id") % 3 === 2).foreach { cut =>
            graft.streaming.StatefulIngest.ingestBatch(
              ev.where(cut), store, "user_id", "value")
          }
          graft.streaming.StatefulIngest.snapshot(s, store)
            .orderBy("key")
        },
        Some(graft.streaming.StatefulIngest.oracleSql(
          "events", "user_id", "value"))),

      // stream-stream interval join, driver-faced: clicks × purchases in
      // [-1h, +4h] per user through three time-ordered chunks of the
      // real watermarked-join state machine (late-drop, join against
      // buffered∪new, watermark eviction) — the pair lake hash-matches
      // the one-shot batch interval join because a pair's earlier
      // element is provably still buffered when its later element lands
      // on time
      RegisteredQuery(
        "q_stream_join_ingest",
        (s, dir) => {
          val store = freshStore(s, "stream_join_gate_store")
          val lake = freshStore(s, "stream_join_gate_lake")
          val ev = Tables.resolve(s, dir)("events")
            .localCheckpoint(true)
          val clicks = ev.where(col("event_type") === "click")
            .select(col("user_id"), col("ts"), col("event_id"))
          val purchases = ev.where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id"))
          Seq(col("ts") < lit("2024-01-11").cast("timestamp_ntz"),
            col("ts") >= lit("2024-01-11").cast("timestamp_ntz") &&
              col("ts") < lit("2024-01-21").cast("timestamp_ntz"),
            col("ts") >= lit("2024-01-21").cast("timestamp_ntz")).foreach { cut =>
            graft.streaming.StreamJoinIngest.ingestBatch(
              clicks.where(cut), purchases.where(cut), store, lake,
              "user_id", "ts", "event_id", "user_id", "ts", "event_id",
              before = "1 HOUR", after = "4 HOURS", lateness = "1 HOUR")
          }
          s.read.parquet(lake)
            .select("key", "left_id", "right_id", "left_ts", "right_ts")
            .orderBy("key", "left_id", "right_id")
        },
        Some(graft.streaming.StreamJoinIngest.oracleSql(
          leftSql = "SELECT user_id AS key, ts, event_id AS id FROM events " +
            "WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL",
          rightSql = "SELECT user_id AS key, ts, event_id AS id FROM events " +
            "WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL",
          before = "1 HOUR", after = "4 HOURS"))),

      // per-group isotonic regression: PAV (native stack expression over
      // the collected calendar series) on monthly revenue per priority;
      // the oracle replays the minimax identity max_j min_k avg(j..k)
      // with identically-quantized candidate averages — trunc is
      // monotone, so it commutes with the max-min
      RegisteredQuery(
        "q_isotonic",
        (s, dir) => {
          val monthly = Tables.resolve(s, dir)("orders")
            .groupBy(col("o_orderpriority"),
              (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
                .cast("long").as("m"))
            .agg(sum(cents("o_totalprice")).as("x"))
          graft.operators.Isotonic.fit(monthly, "o_orderpriority", "m", "x")
            .orderBy("o_orderpriority", "idx")
        },
        Some(graft.operators.Isotonic.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS i,
  CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS x
FROM orders GROUP BY 1, 2""", "o_orderpriority"))),

      // HITS hubs/authorities over the directed part -> supplier
      // purchase graph (hubs = parts bought from many good suppliers,
      // authorities = suppliers reached from many good parts): exact
      // integer mutual reinforcement + max-normalization per half-round,
      // unrolled-CTE oracle
      RegisteredQuery(
        "q_hits",
        (s, dir) => {
          val li = Tables.resolve(s, dir)("lineitem")
            .where(col("l_quantity") >= 40)
          val edges = li.select(col("l_partkey").as("src"),
            (col("l_suppkey") + 100000000L).as("dst")).distinct()
          graft.operators.Hits.hubsAuthorities(edges, iters = 4).orderBy("id")
        },
        Some(graft.operators.Hits.oracleSql(
          "SELECT DISTINCT l_partkey AS src, l_suppkey + 100000000 AS dst " +
            "FROM lineitem WHERE l_quantity >= 40",
          iters = 4))),

      // per-row percentile-rank (ECDF) transform through the RankDecomp
      // two-level decomposition (no per-group rank window); oracle is
      // the window form, which gates the decomposition
      RegisteredQuery(
        "q_percentile_rank",
        (s, dir) => graft.operators.PercentileRank.transform(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice"))
              .select("o_orderkey", "o_orderpriority", "cents"),
            Seq("o_orderpriority"), "cents", bucketWidth = 1000000L)
          .orderBy("o_orderkey"),
        Some(graft.operators.PercentileRank.oracleSql(
          "(SELECT o_orderkey, o_orderpriority, " +
            s"${centsSql("o_totalprice")} AS cents " +
            "FROM orders)",
          Seq("o_orderpriority"), "o_orderkey", "cents",
          Seq("o_orderkey", "o_orderpriority", "cents")))),

      // streaming distinct-count ingest: three orderkey chunks fold HLL
      // registers into the store by max-merge (sketch closure), the
      // estimate after the last fold ≡ the one-shot estimator over the
      // whole table — the one idempotent (at-least-once-safe) fold in
      // the ingest family
      RegisteredQuery(
        "q_hll_ingest",
        (s, dir) => {
          val store = freshStore(s, "hll_ingest_gate_store")
          val o = Tables.resolve(s, dir)("orders").localCheckpoint(true)
          Seq(col("o_orderkey") % 3 === 0, col("o_orderkey") % 3 === 1,
            col("o_orderkey") % 3 === 2).foreach { cut =>
            graft.streaming.HllIngest.ingestBatch(
              o.where(cut), store, Seq("o_orderpriority"), "o_custkey")
          }
          graft.streaming.HllIngest.estimate(s, store, Seq("o_orderpriority"))
            .orderBy("o_orderpriority")
        },
        Some(graft.operators.HllDistinct.oracleSql(
          "orders", Seq("o_orderpriority"), "o_custkey"))),

      // additive seasonal decomposition over the dense daily spine:
      // centered RANGE-frame moving-average trend, pmod weekly seasonal
      // means of the detrended series, exact additive identity — alert
      // on the remainder, not the raw metric
      RegisteredQuery(
        "q_seasonal_decomp",
        (s, dir) => graft.operators.SeasonalDecomp.decompose(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"),
                datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
                col("sum_value").as("x")),
            "o_orderpriority", "i", "x", period = 7, halfWindow = 3)
          .orderBy("o_orderpriority", "idx"),
        Some(graft.operators.SeasonalDecomp.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", period = 7, halfWindow = 3))),

      // exact Kendall tau-b pair counts: distinct-cell dominance join
      // (bounded-cardinality axes — the Contingency contract), all five
      // pair classes as exact integers; the float tau stays spec-side
      RegisteredQuery(
        "q_kendall_tau",
        (s, dir) => graft.operators.KendallTau.tauB(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("bigint"))
              .withColumn("ln", col("l_linenumber").cast("bigint")),
            Seq("l_returnflag"), "qty", "ln")
          .drop("tau_b")
          .orderBy("l_returnflag"),
        Some(graft.operators.KendallTau.oracleSql(
          "lineitem", Seq("l_returnflag"),
          xSql = "CAST(l_quantity AS BIGINT)",
          ySql = "CAST(l_linenumber AS BIGINT)"))),

      // adjusted Rand index between two labelings (lang vs source of
      // documents): exact pair counts off the contingency cells; the
      // float chance-corrected ari stays spec-side
      RegisteredQuery(
        "q_adjusted_rand",
        (s, dir) => graft.operators.RandIndex.adjustedRand(
            Tables.resolve(s, dir)("documents"), "lang", "source")
          .drop("ari"),
        Some(graft.operators.RandIndex.oracleSql("documents", "lang", "source"))),

      // REAL streaming exact dedup (dropDuplicates state across
      // micro-batches): three ordered document chunks through the file
      // stream source at one file per trigger; every fingerprint must
      // survive exactly once — the n=1 column IS the assertion
      RegisteredQuery(
        "q_stream_dedup",
        (s, dir) => {
          val staged = scratch("stream_dedup_gate_src")
          val docs = Tables.resolve(s, dir)("documents")
          graft.streaming.StreamStage.stageChunks(docs,
            Seq(col("doc_id") % 3 === 0, col("doc_id") % 3 === 1,
              col("doc_id") % 3 === 2), staged)
          val stream = graft.streaming.StreamingWindows.dedupExactStream(
            s.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", "1").parquet(staged),
            textCol = "text")
          graft.streaming.StreamStage.runToMemory(stream, "g_stream_dedup",
            statePartitions = Some(4))
            .select(graft.text.TextFunctions.fingerprint(col("text")).as("fp"))
            .groupBy("fp").agg(count(lit(1)).as("n"))
            .orderBy("fp")
        },
        Some("""SELECT fp, CAST(1 AS BIGINT) AS n FROM (
  SELECT DISTINCT CAST(('0x'||substr(md5(text),1,15)) AS BIGINT) AS fp
  FROM documents WHERE text IS NOT NULL)
ORDER BY fp""")),

      // REAL streaming watermarked tumbling windows in append mode:
      // ts-ordered chunks + a far-future sentinel file advance the
      // watermark past every real window, so the appended output is
      // EXACTLY the batch aggregation — the L13 state machine
      // driver-gated end-to-end
      RegisteredQuery(
        "q_stream_windows",
        (s, dir) => {
          val staged = scratch("stream_windows_gate_src")
          val ev = Tables.resolve(s, dir)("events")
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
            .localCheckpoint(true)
          val sentinel = s.range(1).select(
            lit(-1L).as("event_id"),
            lit("2030-01-01 00:00:00").cast("timestamp_ntz").as("ts"),
            lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
          val d1 = lit("2024-01-11").cast("timestamp_ntz")
          val d2 = lit("2024-01-21").cast("timestamp_ntz")
          val d3 = lit("2029-01-01").cast("timestamp_ntz")
          graft.streaming.StreamStage.stageChunks(ev.unionByName(sentinel),
            Seq(col("ts") < d1, col("ts") >= d1 && col("ts") < d2,
              col("ts") >= d2 && col("ts") < d3, col("ts") >= d3), staged)
          val stream = graft.streaming.StreamingWindows.tumbling(
            graft.streaming.StreamingWindows.readEventsStream(
              s, staged, Map("maxFilesPerTrigger" -> "1")),
            duration = "1 hour", lateness = "2 hours")
          graft.streaming.StreamStage.runToMemory(stream, "g_stream_windows",
            statePartitions = Some(4))
            .where(col("w_start") < lit("2029-01-01").cast("timestamp"))
            .select(col("w_start").cast("timestamp_ntz").as("w_start"),
              col("event_type"), col("n_events"), col("sum_value"))
            .orderBy("w_start", "event_type")
        },
        Some(graft.llm.EventWindows.tumblingOracle("events"))),

      // REAL streaming funnel (buffer-until-watermark + the r10
      // event-time-timeout drain): ts-ordered chunks + a far-future
      // sentinel seal every real event, wakeups fold the buffered
      // prefixes without new per-key data, and the last snapshot per
      // user equals the batch funnel walk
      RegisteredQuery(
        "q_stream_funnel",
        (s, dir) => {
          val staged = scratch("stream_funnel_gate_src")
          val ev = Tables.resolve(s, dir)("events")
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
            .localCheckpoint(true)
          val sentinel = s.range(1).select(
            lit(-1L).as("event_id"),
            lit("2030-01-01 00:00:00").cast("timestamp_ntz").as("ts"),
            lit(-1L).as("user_id"), lit("view").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
          val d1 = lit("2024-01-11").cast("timestamp_ntz")
          val d2 = lit("2024-01-21").cast("timestamp_ntz")
          val d3 = lit("2029-01-01").cast("timestamp_ntz")
          graft.streaming.StreamStage.stageChunks(ev.unionByName(sentinel),
            Seq(col("ts") < d1, col("ts") >= d1 && col("ts") < d2,
              col("ts") >= d2 && col("ts") < d3, col("ts") >= d3), staged)
          val steps = Seq("view", "click", "purchase")
          val stream = graft.streaming.StreamingFunnels.funnelProgress(
            graft.streaming.StreamingWindows.readEventsStream(
                s, staged, Map("maxFilesPerTrigger" -> "1"))
              .withWatermark("ts", "1 hour"),
            steps)
          val snaps = graft.streaming.StreamStage
            .runToMemory(stream.toDF(), "g_stream_funnel", mode = "update",
              statePartitions = Some(4))
            .where(col("user_id") =!= -1L)
            .groupBy("user_id")
            .agg(max(col("steps_completed")).as("steps_completed"),
              max(col("first_us")).as("__fu"))
          ev.select("user_id").distinct()
            .join(snaps, Seq("user_id"), "left")
            .select(col("user_id"),
              coalesce(col("steps_completed"), lit(0)).as("steps_completed"),
              when(col("steps_completed") >= 1, col("__fu")).as("first_us"))
            .orderBy("user_id")
        },
        Some(s"""SELECT user_id, steps_completed, first_us
FROM (${graft.llm.EventFunnels.funnelOracle(
          "events", Seq("view", "click", "purchase"))})
ORDER BY user_id""")),

      // deterministic synchronous label-propagation communities over
      // the part↔supplier co-purchase graph: most-frequent neighbor
      // label, smallest-label ties, fixed rounds — unrolled-CTE oracle
      RegisteredQuery(
        "q_label_prop",
        (s, dir) => {
          val li = Tables.resolve(s, dir)("lineitem")
            .where(col("l_quantity") >= 45)
          val edges = li.select(col("l_partkey").as("src"),
            (col("l_suppkey") + 100000000L).as("dst")).distinct()
          graft.operators.LabelProp.communities(edges, iters = 4).orderBy("id")
        },
        Some(graft.operators.LabelProp.oracleSql(
          "SELECT DISTINCT l_partkey AS src, l_suppkey + 100000000 AS dst " +
            "FROM lineitem WHERE l_quantity >= 45",
          iters = 4))),

      // REAL streaming save-strategy sink (the reference's chunked-
      // ingest state machine under a continuous source): two ordered
      // overlapping document versions through toStore(Upsert) — the
      // final table holds version 2 exactly where the second batch
      // overlapped and version 1 elsewhere
      RegisteredQuery(
        "q_sink_ingest",
        (s, dir) => {
          val staged = scratch("sink_ingest_gate_src")
          val storeDir = scratch("sink_ingest_gate_store")
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(storeDir))
          val docs = Tables.resolve(s, dir)("documents")
            .select("doc_id", "lang", "source")
          val versioned = docs.where(col("doc_id") < 300)
              .withColumn("ver", lit(1L))
            .unionByName(docs.where(col("doc_id") >= 150)
              .withColumn("lang", concat(col("lang"), lit("_v2")))
              .withColumn("ver", lit(2L)))
          graft.streaming.StreamStage.stageChunks(versioned,
            Seq(col("ver") === 1L, col("ver") === 2L), staged)
          val store = new graft.sources.ParquetStore(storeDir)
          val stream = s.readStream.schema(versioned.schema)
            .option("maxFilesPerTrigger", "1").parquet(staged)
          val q = graft.streaming.StreamingSink.toStore(
            stream, store, "docs", graft.sources.SaveStrategy.Upsert("doc_id"))
          try q.processAllAvailable() finally q.stop()
          store.read(s, "docs").orderBy("doc_id")
        },
        Some("""SELECT doc_id, CASE WHEN doc_id >= 150 THEN lang || '_v2' ELSE lang END AS lang,
  source, CAST(CASE WHEN doc_id >= 150 THEN 2 ELSE 1 END AS BIGINT) AS ver
FROM documents
WHERE doc_id < 300 OR doc_id >= 150
ORDER BY doc_id""")),

      // PCM sample statistics off synthesized 16-bit WAV payloads: the
      // first multimodal gate that reads the SIGNAL (peak + exact
      // energy), differential-fixture oracle — the same generating
      // formula computes the expectations in SQL
      RegisteredQuery(
        "q_audio_pcm_stats",
        (s, dir) => {
          def le16h(c: org.apache.spark.sql.Column) = {
            val x = lpad(hex(c), 4, "0")
            concat(substring(x, 3, 2), substring(x, 1, 2))
          }
          // 100 samples per doc from a formula that wraps past 32768 at
          // every scale factor, so the signed branch is always exercised
          val pcmHex = expr("array_join(transform(sequence(0, 99), i -> " +
            "concat(substring(lpad(hex((doc_id*131 + i*1717) % 65536), 4, '0'), 3, 2), " +
            "substring(lpad(hex((doc_id*131 + i*1717) % 65536), 4, '0'), 1, 2))), '')")
          val fmtChunk = concat(lit("666D7420"), lit("10000000"), lit("0100"),
            le16h(lit(1)), lit("401F0000"), lit("803E0000"), le16h(lit(2)),
            lit("1000"))
          val wavHex = concat(lit("52494646"), lit("00000000"), lit("57415645"),
            fmtChunk, lit("64617461"), lit("C8000000"), pcmHex)
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"),
              graft.functions.AudioPcmStats(unhex(wavHex)).as("st"))
            .select(col("doc_id"), col("st.n_samples").as("n_samples"),
              col("st.peak").as("peak"), col("st.sum_sq").as("sum_sq"))
            .orderBy("doc_id")
        },
        Some("""WITH s AS (SELECT doc_id, list_transform(generate_series(0, 99), i ->
    CASE WHEN (doc_id*131 + i*1717) % 65536 >= 32768
         THEN (doc_id*131 + i*1717) % 65536 - 65536
         ELSE (doc_id*131 + i*1717) % 65536 END) AS v
  FROM documents)
SELECT doc_id, CAST(100 AS BIGINT) AS n_samples,
  CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS peak,
  CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS sum_sq
FROM s ORDER BY doc_id""")),

      // time-weighted average price per supplier: each day's observed
      // floor price holds until the next observation (step convention),
      // declared horizon end, one lead window + partial-agg'd sum
      RegisteredQuery(
        "q_twap",
        (s, dir) => graft.operators.Twap.twap(
            Tables.resolve(s, dir)("lineitem")
              .groupBy(col("l_suppkey"),
                datediff(col("l_shipdate"), lit("1970-01-01")).cast("long")
                  .as("day"))
              .agg(min(cents("l_extendedprice")).as("cents")),
            "l_suppkey", "day", "cents", endIdx = 11688L)
          .orderBy("l_suppkey"),
        Some(graft.operators.Twap.oracleSql(
          s"""SELECT l_suppkey AS grp,
  CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
  min(${centsSql("l_extendedprice")}) AS v
FROM lineitem GROUP BY 1, 2""",
          "l_suppkey", endIdx = 11688L))),

      // deterministic interval proration: order revenue recognized
      // daily across an id-derived subscription span, front-loaded
      // remainder rule, Σ shares ≡ the amount exactly
      RegisteredQuery(
        "q_prorate",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .where(col("o_orderkey") % 20 === 0)
            .select(col("o_orderkey"),
              datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
                .as("d0"),
              (datediff(col("o_orderdate"), lit("1970-01-01")).cast("long") +
                1L + col("o_orderkey") % 28).as("d1"),
              cents("o_totalprice")
                .as("cents"))
          graft.operators.Prorate.daily(o, "d0", "d1", "cents")
            .select("o_orderkey", "period", "share")
            .orderBy("o_orderkey", "period")
        },
        Some(graft.operators.Prorate.oracleSql(
          s"""SELECT o_orderkey,
  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d0,
  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
    + 1 + o_orderkey % 28 AS d1,
  ${centsSql("o_totalprice")} AS cents
FROM orders WHERE o_orderkey % 20 = 0""",
          startE = "d0", endE = "d1", valueE = "cents",
          keepCols = Seq("o_orderkey")))),

      // pairwise MI sweep over the documents' categorical columns
      // (incl. a derived length bucket) — the categorical corr-matrix
      // for leakage/redundancy audits
      RegisteredQuery(
        "q_mi_matrix",
        (s, dir) => graft.operators.Contingency.miMatrix(
            Tables.resolve(s, dir)("documents")
              .withColumn("len_b",
                call_function("div", col("n_chars").cast("long"), lit(500L))),
            Seq("lang", "source", "len_b"))
          .orderBy("col_a", "col_b"),
        Some(graft.operators.Contingency.miMatrixOracle(
          "(SELECT lang, source, n_chars // 500 AS len_b FROM documents) t_mi",
          Seq("lang", "source", "len_b")))),

      // seasonally-adjusted anomaly screen (composition): decompose the
      // daily series, then MAD-flag the REMAINDER — alert on what's left
      // after trend and weekday seasonality, or every Sunday pages
      RegisteredQuery(
        "q_seasonal_anomaly",
        (s, dir) => {
          val decomposed = graft.operators.SeasonalDecomp.decompose(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"),
                datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
                col("sum_value").as("x")),
            "o_orderpriority", "i", "x", period = 7, halfWindow = 3)
          graft.operators.Outliers.madOutliers(
              decomposed, "o_orderpriority", "remainder_q6", "idx",
              kNum = 4L, kDen = 1L)
            .orderBy("o_orderpriority", "idx")
        },
        Some(graft.operators.Outliers.madOracleSql(
          s"""(${graft.operators.SeasonalDecomp.oracleSql(
            s"""SELECT o_orderpriority AS grp,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
            "o_orderpriority", period = 7, halfWindow = 3)}) seas""",
          "o_orderpriority", "remainder_q6", "idx", kNum = 4L, kDen = 1L))),

      // Cramér's V effect size over the lang×source association — the
      // comparable [0,1] normalization of q_chisq_cells' statistic
      RegisteredQuery(
        "q_cramers_v",
        (s, dir) => graft.operators.Contingency.cramersV(
          Tables.resolve(s, dir)("documents"), "lang", "source"),
        Some(graft.operators.Contingency.cramersVOracle(
          "documents", "lang", "source"))),

      // declarative data-quality contract over documents: five rule
      // kinds in one readout (row-local rules share ONE aggregate pass)
      RegisteredQuery(
        "q_contract_audit",
        (s, dir) => {
          import graft.operators.ContractAudit._
          graft.operators.ContractAudit.audit(
            Tables.resolve(s, dir)("documents"),
            Seq(NotNull("text"), InRange("n_chars", 0L, 400L),
              MatchesRegex("source", "^src[0-9]+$"),
              OneOf("lang", Seq("en", "de", "fr")),
              Unique(Seq("doc_id"))))
        },
        Some {
          import graft.operators.ContractAudit._
          graft.operators.ContractAudit.oracleSql("documents",
            Seq(NotNull("text"), InRange("n_chars", 0L, 400L),
              MatchesRegex("source", "^src[0-9]+$"),
              OneOf("lang", Seq("en", "de", "fr")),
              Unique(Seq("doc_id"))))
        }),

      // order-independent table content digest: three commutative
      // reductions over canonical 60-bit row fingerprints — snapshot
      // equality at a fraction of the row-diff's cost
      RegisteredQuery(
        "q_table_digest",
        // the derived nullable column exercises the NULL sentinel
        // cross-engine (the base table has no NULLs)
        (s, dir) => graft.operators.TableDigest.digest(
          Tables.resolve(s, dir)("documents")
            .withColumn("lang_n",
              when(col("doc_id") % 7 === 0, lit(null).cast("string"))
                .otherwise(col("lang")))
            .select("doc_id", "lang_n", "source", "n_chars")),
        Some(graft.operators.TableDigest.oracleSql(
          "(SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END " +
            "AS lang_n, source, n_chars FROM documents)",
          Seq("doc_id", "lang_n", "source", "n_chars")))),

      // UTF-8 validity/mojibake triage over synthesized payloads: each
      // doc's ASCII prefix + formula-injected invalid bytes + baked-in
      // U+FFFD markers — the differential fixture recomputes every
      // expectation from the same generator in SQL
      RegisteredQuery(
        "q_utf8_stats",
        (s, dir) => {
          // prefix = first 20 chars of the (ASCII by construction) text;
          // doc_id % 4 stray 0xFF bytes; doc_id % 2 replacement chars
          val payload = unhex(concat(
            hex(substring(col("text"), 1, 20)),
            expr("repeat('FF', CAST(doc_id % 4 AS INT))"),
            expr("repeat('EFBFBD', CAST(doc_id % 2 AS INT))")))
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"), graft.functions.Utf8Stats(payload).as("st"))
            .select(col("doc_id"), col("st.n_bytes").as("n_bytes"),
              col("st.n_chars").as("n_chars"),
              col("st.n_invalid").as("n_invalid"),
              col("st.n_replacement").as("n_replacement"))
            .orderBy("doc_id")
        },
        Some("""SELECT doc_id,
  CAST(length(substr(text, 1, 20)) + doc_id % 4 + 3 * (doc_id % 2) AS BIGINT) AS n_bytes,
  CAST(length(substr(text, 1, 20)) + doc_id % 2 AS BIGINT) AS n_chars,
  CAST(doc_id % 4 AS BIGINT) AS n_invalid,
  CAST(doc_id % 2 AS BIGINT) AS n_replacement
FROM documents ORDER BY doc_id""")),

      // Krippendorff alpha over a simulated annotation fleet: orderkey
      // quartets are "units" (multiplicity <= 4 at ANY scale factor —
      // orderkeys are unique), 3/4 of ratings carry the unit-determined
      // label, 1/4 id-derived noise (identical both sides)
      RegisteredQuery(
        "q_krippendorff",
        (s, dir) => graft.operators.Krippendorff.alphaNominal(
            Tables.resolve(s, dir)("orders").select(
              call_function("div", col("o_orderkey"), lit(4L)).as("unit"),
              when(pmod(col("o_orderkey"), lit(4)) =!= 0,
                concat(lit("v"),
                  pmod(call_function("div", col("o_orderkey"), lit(4L)),
                    lit(5))))
                .otherwise(concat(lit("v"), pmod(col("o_orderkey"), lit(5))))
                .as("v")),
            "unit", "v"),
        Some(graft.operators.Krippendorff.oracleSql(
          """(SELECT o_orderkey // 4 AS unit,
  CASE WHEN o_orderkey % 4 <> 0 THEN 'v' || ((o_orderkey // 4) % 5)
       ELSE 'v' || (o_orderkey % 5) END AS v
FROM orders)""",
          "unit", "v"))),

      // interval-set difference: order-derived coverage windows net of
      // id-derived exclusion windows (uptime net of maintenance) — the
      // boundary sweep with two depth axes
      RegisteredQuery(
        "q_interval_subtract",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
          val base = o.select(col("o_custkey"),
            col("o_orderdate").as("f"),
            expr("date_add(o_orderdate, CAST(o_orderkey % 20 AS INT) + 1)")
              .as("t"))
          val minus = o.where(pmod(col("o_orderkey"), lit(3)) === 0)
            .select(col("o_custkey"),
              expr("date_add(o_orderdate, 2)").as("f"),
              expr("date_add(o_orderdate, CAST(o_orderkey % 7 AS INT) + 3)")
                .as("t"))
          graft.operators.IntervalCoverage.subtractCoverage(
              base, minus, "o_custkey", "f", "t")
            .orderBy("o_custkey")
        },
        Some(graft.operators.IntervalCoverage.subtractOracle(
          """SELECT o_custkey, o_orderdate AS f,
  CAST(o_orderdate AS DATE) + (CAST(o_orderkey % 20 AS INT) + 1) AS t
FROM orders""",
          """SELECT o_custkey, CAST(o_orderdate AS DATE) + 2 AS f,
  CAST(o_orderdate AS DATE) + (CAST(o_orderkey % 7 AS INT) + 3) AS t
FROM orders WHERE o_orderkey % 3 = 0""",
          "o_custkey", "f", "t"))),

      // largest-remainder apportionment: exactly one million training
      // slots split across languages by corpus char mass
      RegisteredQuery(
        "q_apportion",
        (s, dir) => graft.operators.Apportion.largestRemainder(
            Tables.resolve(s, dir)("documents")
              .select(col("lang"), col("n_chars").as("w")),
            "lang", "w", total = 1000000L)
          .orderBy("lang"),
        Some(graft.operators.Apportion.oracleSql(
          "SELECT lang, n_chars AS w FROM documents",
          "lang", total = 1000000L))),

      // Theil-Sen robust trend over per-priority monthly revenue — the
      // quantized-pair-slope discrete median
      RegisteredQuery(
        "q_theil_sen",
        (s, dir) => TheilSen.slope(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                ((year(col("o_orderdate")) - 1970) * 12 +
                  month(col("o_orderdate")) - 1).cast("long").as("mon"))
              .agg(sum(cents("o_totalprice")).as("cents")),
            "o_orderpriority", "mon", "cents")
          .orderBy("o_orderpriority"),
        Some(TheilSen.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  (date_part('year', CAST(o_orderdate AS DATE)) - 1970) * 12
    + date_part('month', CAST(o_orderdate AS DATE)) - 1 AS x,
  sum(${centsSql("o_totalprice")}) AS y
FROM orders GROUP BY 1, 2""",
          "o_orderpriority"))),

      // rolling 28-day correlation between daily order count and daily
      // revenue per priority — the co-movement drift trajectory
      RegisteredQuery(
        "q_rolling_corr",
        (s, dir) => CrossCorr.rolling(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"),
                datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
                col("n_rows").as("x"), col("sum_value").as("y")),
            "o_orderpriority", "i", "x", "y", window = 28)
          .orderBy("o_orderpriority", "idx"),
        Some(CrossCorr.rollingOracle(
          s"""SELECT o_orderpriority AS grp,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, n_rows AS x, sum_value AS y
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", window = 28))),

      // bitemporal as-of: order-derived assertion log (validity from
      // orderdate, transaction time lagging by an id-derived correction
      // delay), read AS OF 1998-01-01 VALID AT 1997-06-01
      RegisteredQuery(
        "q_bitemporal",
        (s, dir) => graft.operators.Bitemporal.asOf(
            Tables.resolve(s, dir)("orders").select(
              col("o_custkey").as("k"),
              col("o_orderdate").as("vf"),
              expr("date_add(o_orderdate, CAST(o_orderkey % 90 AS INT) + 30)")
                .as("vt"),
              expr("date_add(o_orderdate, CAST(o_orderkey % 5 AS INT))")
                .as("tx"),
              cents("o_totalprice")
                .as("cents")),
            "k", "vf", "vt", "tx", Seq("cents"),
            txAsOf = "1998-01-01", validAt = "1997-06-01")
          .orderBy("k"),
        Some(graft.operators.Bitemporal.oracleSql(
          s"""SELECT o_custkey AS k, o_orderdate AS vf,
  CAST(o_orderdate AS DATE) + (CAST(o_orderkey % 90 AS INT) + 30) AS vt,
  CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INT) AS tx,
  ${centsSql("o_totalprice")} AS cents
FROM orders""",
          "k", Seq("cents"), txAsOf = "1998-01-01", validAt = "1997-06-01"))),

      // 1-D earth-mover distance between the urgent and non-urgent price
      // distributions — the integral companion of q_ks_distance's max
      RegisteredQuery(
        "q_emd",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .withColumn("cents", cents("o_totalprice"))
          graft.operators.KsDistance.emd(
            o.where(col("o_orderpriority") === "1-URGENT"),
            o.where(col("o_orderpriority") =!= "1-URGENT"),
            "cents")
        },
        Some(graft.operators.KsDistance.emdOracle(
          s"SELECT ${centsSql("o_totalprice")} AS cents FROM orders WHERE o_orderpriority = '1-URGENT'",
          s"SELECT ${centsSql("o_totalprice")} AS cents FROM orders WHERE o_orderpriority <> '1-URGENT'",
          "cents"))),

      // RBO@20 between two id-derived document rankings per language —
      // the top-weighted ranker-diff readout (p = 9/10)
      RegisteredQuery(
        "q_rbo",
        (s, dir) => {
          val d = Tables.resolve(s, dir)("documents")
          def ranking(mult: Long) = d.select(col("lang").as("q"),
              col("doc_id").as("doc"),
              row_number().over(
                org.apache.spark.sql.expressions.Window
                  .partitionBy(col("lang"))
                  .orderBy(pmod(col("doc_id") * mult, lit(1009L)).asc,
                    col("doc_id").asc)).cast("long").as("r"))
          RankBiasedOverlap.rbo(ranking(31L), ranking(17L),
              "q", "doc", "r", k = 20, pNum = 9, pDen = 10)
            .orderBy("q")
        },
        Some {
          def rankingSql(mult: Long) =
            s"""SELECT lang AS q, doc_id AS doc,
  row_number() OVER (PARTITION BY lang
    ORDER BY (doc_id * $mult) % 1009 ASC, doc_id ASC) AS r
FROM documents"""
          RankBiasedOverlap.oracleSql(rankingSql(31L), rankingSql(17L),
            "q", k = 20, pNum = 9, pDen = 10)
        }),

      // leave-one-source-out ablation of mean document length — the
      // one-pass data-valuation table
      RegisteredQuery(
        "q_ablation",
        (s, dir) => graft.operators.Ablation.leaveOneOut(
            Tables.resolve(s, dir)("documents")
              .select(col("source"), col("n_chars").as("num"),
                lit(1L).as("den")),
            "source", "num", "den")
          .orderBy("source"),
        Some(graft.operators.Ablation.oracleSql(
          "(SELECT source, n_chars AS num, 1 AS den FROM documents)",
          "source", "num", "den"))),

      // Qini uplift curve over an id-derived score whose treatment
      // effect GROWS with the score (identical construction both
      // sides) — a front-loaded curve the model should earn
      RegisteredQuery(
        "q_qini",
        (s, dir) => Qini.curve(
            Tables.resolve(s, dir)("orders").select(
              pmod(col("o_orderkey") * 2654435761L, lit(1000L)).as("score"),
              col("o_orderkey").as("id"),
              when(pmod(col("o_custkey"), lit(2)) === 0, "t").otherwise("c")
                .as("arm"),
              when(pmod(col("o_orderkey") * 7919L, lit(1000L)) <
                lit(100L) + when(pmod(col("o_custkey"), lit(2)) === 0,
                  call_function("div",
                    pmod(col("o_orderkey") * 2654435761L, lit(1000L)),
                    lit(4L)))
                  .otherwise(lit(0L)), 1L).otherwise(0L).as("conv")),
            "score", "id", "arm", "conv", treatArm = "t", ctrlArm = "c",
            k = 10)
          .orderBy("bucket"),
        Some(Qini.oracleSql(
          """SELECT (o_orderkey * 2654435761) % 1000 AS score,
  o_orderkey AS id,
  CASE WHEN o_custkey % 2 = 0 THEN 't' ELSE 'c' END AS arm,
  CASE WHEN (o_orderkey * 7919) % 1000 <
    100 + CASE WHEN o_custkey % 2 = 0
               THEN ((o_orderkey * 2654435761) % 1000) // 4 ELSE 0 END
  THEN 1 ELSE 0 END AS conv
FROM orders""",
          treatArm = "t", ctrlArm = "c", k = 10))),

      // mix-vs-rate bridge: why average order value moved from 1996 to
      // 1997, decomposed per priority segment
      RegisteredQuery(
        "q_metric_bridge",
        (s, dir) => MetricBridge.mixRateBridge(
            Tables.resolve(s, dir)("orders")
              .where(year(col("o_orderdate")).isin(1996, 1997))
              .select(year(col("o_orderdate")).cast("string").as("p"),
                col("o_orderpriority").as("seg"),
                cents("o_totalprice").as("num"),
                lit(1L).as("den")),
            "p", "seg", "num", "den", periodA = "1996", periodB = "1997")
          .orderBy("seg"),
        Some(MetricBridge.oracleSql(
          s"""SELECT CAST(date_part('year', CAST(o_orderdate AS DATE)) AS VARCHAR) AS period,
  o_orderpriority AS seg,
  ${centsSql("o_totalprice")} AS num,
  1 AS den
FROM orders
WHERE date_part('year', CAST(o_orderdate AS DATE)) IN (1996, 1997)""",
          "seg", periodA = "1996", periodB = "1997"))),

      // rendezvous resharding plan: documents routed over 8 shards,
      // then 9 — the per-key before/after/moved table (movement lands
      // only in the new shard, ~1/9 of keys)
      RegisteredQuery(
        "q_rendezvous",
        (s, dir) => {
          val before = (0 until 8).map(i => s"shard$i")
          graft.operators.Sharding.reshardPlan(
              Tables.resolve(s, dir)("documents"), "doc_id",
              before, before :+ "shard8")
            .select(col("doc_id"), col("shard_before"), col("shard_after"),
              col("moved"))
            .orderBy("doc_id")
        },
        Some(graft.operators.Sharding.reshardOracle(
          "documents", "doc_id", "doc_id",
          (0 until 8).map(i => s"shard$i"),
          (0 until 9).map(i => s"shard$i")))),

      // max drawdown over per-user running balances: signed event cents
      // cumulated along event_id order — the deepest dip below the
      // running high-water mark, exact Longs end-to-end
      RegisteredQuery(
        "q_drawdown",
        (s, dir) => {
          val amount = cents("value")
          val signed = when(pmod(col("event_id"), lit(2)) === 0, amount)
            .otherwise(-amount)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("grp")).orderBy(col("event_id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
          val series = Tables.resolve(s, dir)("events")
            .select(pmod(col("user_id"), lit(25)).as("grp"),
              col("event_id"), signed.as("__d"))
            .withColumn("level", sum(col("__d")).over(w))
          graft.operators.Drawdown.maxDrawdown(
              series, "grp", "event_id", "level")
            .orderBy("grp")
        },
        Some(graft.operators.Drawdown.oracleSql(
          s"""SELECT user_id % 25 AS grp, event_id AS t,
  sum(CASE WHEN event_id % 2 = 0 THEN c ELSE -c END)
    OVER (PARTITION BY user_id % 25 ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS v
FROM (SELECT user_id, event_id,
  ${centsSql("value")} AS c FROM events)""",
          "grp"))),

      // referential-integrity audit: four declared FKs — two clean, a
      // restricted-parent relation with real orphans, a NULL-FK child,
      // and a composite-key relation — in one relations-sized readout
      RegisteredQuery(
        "q_referential",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val ordersNullFk = t("orders").withColumn("o_custkey",
            when(pmod(col("o_orderkey"), lit(11)) === 0,
              lit(null).cast("long")).otherwise(col("o_custkey")))
          graft.operators.Referential.audit(Seq(
              graft.operators.Referential.FkRelation(
                "customer.nation", t("customer"), Seq("c_nationkey"),
                t("nation"), Seq("n_nationkey")),
              graft.operators.Referential.FkRelation(
                "lineitem.order", t("lineitem"), Seq("l_orderkey"),
                t("orders"), Seq("o_orderkey")),
              graft.operators.Referential.FkRelation(
                "lineitem.supplier_low", t("lineitem"), Seq("l_suppkey"),
                t("supplier").where(col("s_suppkey") <= 40), Seq("s_suppkey")),
              graft.operators.Referential.FkRelation(
                "orders_nullfk.customer", ordersNullFk, Seq("o_custkey"),
                t("customer"), Seq("c_custkey")),
              graft.operators.Referential.FkRelation(
                "lineitem.highqty_pair", t("lineitem"),
                Seq("l_partkey", "l_suppkey"),
                t("lineitem").where(col("l_quantity") >= 10),
                Seq("l_partkey", "l_suppkey"))))
            .orderBy("relation")
        },
        Some(graft.operators.Referential.oracleSql(Seq(
          graft.operators.Referential.relationOracle(
            "customer.nation", "SELECT * FROM customer", Seq("c_nationkey"),
            "SELECT * FROM nation", Seq("n_nationkey")),
          graft.operators.Referential.relationOracle(
            "lineitem.order", "SELECT * FROM lineitem", Seq("l_orderkey"),
            "SELECT * FROM orders", Seq("o_orderkey")),
          graft.operators.Referential.relationOracle(
            "lineitem.supplier_low", "SELECT * FROM lineitem", Seq("l_suppkey"),
            "SELECT * FROM supplier WHERE s_suppkey <= 40", Seq("s_suppkey")),
          graft.operators.Referential.relationOracle(
            "orders_nullfk.customer",
            "SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_custkey END AS o_custkey FROM orders",
            Seq("o_custkey"), "SELECT * FROM customer", Seq("c_custkey")),
          graft.operators.Referential.relationOracle(
            "lineitem.highqty_pair", "SELECT * FROM lineitem",
            Seq("l_partkey", "l_suppkey"),
            "SELECT * FROM lineitem WHERE l_quantity >= 10",
            Seq("l_partkey", "l_suppkey")))))),

      // graph mixing summary over the high-quantity nation trade graph
      // (supplier nation → customer nation): reciprocity + exact
      // assortativity components in one grand aggregate
      RegisteredQuery(
        "q_graph_mixing",
        (s, dir) => {
          val t = Tables.resolve(s, dir)
          val edges = t("lineitem").where(col("l_quantity") >= 50)
            .select("l_orderkey", "l_suppkey")
            .join(t("orders").select("o_orderkey", "o_custkey"),
              col("l_orderkey") === col("o_orderkey"))
            .join(t("customer").select("c_custkey", "c_nationkey"),
              col("o_custkey") === col("c_custkey"))
            .join(t("supplier").select("s_suppkey", "s_nationkey"),
              col("l_suppkey") === col("s_suppkey"))
            .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
          graft.operators.GraphMixing.summary(edges, "src", "dst")
        },
        Some(graft.operators.GraphMixing.oracleSql(
          """SELECT s_nationkey AS s, c_nationkey AS d
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_quantity >= 50"""))),

      // Nelson–Aalen cumulative hazard: the rational (fully exact)
      // survival readout beside q_km_survival's log-space curve — same
      // daily hazard spine, per-term-floored cumulative sums
      RegisteredQuery(
        "q_nelson_aalen",
        (s, dir) => graft.operators.Churn.nelsonAalenDaily(
            Tables.resolve(s, dir)("events"),
            "user_id", "ts")
          .orderBy("age_days"),
        Some(graft.operators.Churn.naDailyOracleSql(
          "events", "user_id", "ts"))),

      // FIFO lot matching: even-line lineitems are acquisition lots,
      // odd-line ones demands, per part-bucket — allocations as
      // cumulative-mass interval overlaps (band join, no per-key
      // quadratic pairing)
      RegisteredQuery(
        "q_fifo_match",
        (s, dir) => {
          val li = Tables.resolve(s, dir)("lineitem").select(
            pmod(col("l_partkey"), lit(200)).as("k"),
            (col("l_orderkey") * 10 + col("l_linenumber")).as("i"),
            col("l_quantity").cast("long").as("q"),
            pmod(col("l_linenumber"), lit(2)).as("__par"))
          // the synthetic table has duplicate (orderkey, linenumber)
          // pairs — collapse to one row per (k, i), the fifo contract
          def rows(par: Int) = li.where(col("__par") === par)
            .groupBy("k", "i").agg(sum(col("q")).as("q"))
          val lots = rows(0)
          val demands = rows(1)
          graft.operators.FifoMatch.allocate(
              lots, demands, "k", "i", "q", bucketMass = 64L)
            .orderBy("k", "lot_idx", "demand_idx")
        },
        Some(graft.operators.FifoMatch.allocateOracle(
          """SELECT l_partkey % 200 AS k, l_orderkey * 10 + l_linenumber AS i,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
FROM lineitem WHERE l_linenumber % 2 = 0 GROUP BY 1, 2""",
          """SELECT l_partkey % 200 AS k, l_orderkey * 10 + l_linenumber AS i,
  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
FROM lineitem WHERE l_linenumber % 2 = 1 GROUP BY 1, 2""",
          "k"))),

      // Holt-Winters additive triple smoothing: weekly seasonal state
      // over the per-priority dense daily revenue series — the same
      // integer fold discipline as q_holt_smooth plus the period-7
      // seasonal back-reference
      RegisteredQuery(
        "q_holt_winters",
        (s, dir) => graft.operators.ExpSmooth.holtWinters(
            dailyCentsSpine(Tables.resolve(s, dir)("orders"))
              .select(col("o_orderpriority"),
                datediff(col("day"), lit("1970-01-01")).cast("long").as("i"),
                col("sum_value").as("x")),
            "o_orderpriority", "i", "x", period = 7,
            alphaNum = 3, alphaDen = 10, betaNum = 1, betaDen = 10,
            gammaNum = 2, gammaDen = 10)
          .orderBy("o_orderpriority", "idx"),
        Some(graft.operators.ExpSmooth.holtWintersOracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(day - DATE '1970-01-01' AS BIGINT) AS i, sum_value AS x
FROM (${dailyCentsSpineSql})""",
          "o_orderpriority", period = 7, alphaNum = 3, alphaDen = 10,
          betaNum = 1, betaDen = 10, gammaNum = 2, gammaDen = 10))),

      // Markov entropy rate of the event-type chain: per-state
      // conditional entropy + rate contribution off the transition
      // matrix, per-term-floored quantized-ln sums
      RegisteredQuery(
        "q_markov_entropy",
        (s, dir) => graft.operators.MarkovEntropy.fromTransitions(
            graft.llm.EventWindows.eventTransitions(
              Tables.resolve(s, dir)("events")))
          .orderBy("from_type"),
        Some(graft.operators.MarkovEntropy.oracleSql(
          graft.llm.EventWindows.eventTransitionsOracle("events")))),

      // time-decay attribution: credit halves per 30 minutes before the
      // conversion — declared step-wise powers of two, one truncating
      // division per touch
      RegisteredQuery(
        "q_timedecay_attrib",
        (s, dir) => graft.llm.Attribution.timeDecayCredit(
            Tables.resolve(s, dir)("events"),
            conversionType = "purchase", lookback = "2 hours",
            halflife = "30 minutes")
          .orderBy("conversion_id", "touch_id"),
        Some(graft.llm.Attribution.timeDecayOracle(
          "events", "purchase"))),

      // Lorenz curve deciles over per-customer revenue: the curve behind
      // q_gini's one number — NTILE-exact buckets, cumulative shares as
      // single truncating divisions
      RegisteredQuery(
        "q_lorenz",
        (s, dir) => {
          val rev = Tables.resolve(s, dir)("orders")
            .groupBy(col("o_custkey"))
            .agg(sum(cents("o_totalprice")).as("rev_c"))
          graft.operators.Lorenz.curve(rev, "rev_c", "o_custkey", k = 10)
            .orderBy("bucket")
        },
        Some(graft.operators.Lorenz.oracleSql(
          s"(SELECT o_custkey, CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_c " +
            "FROM orders GROUP BY 1)",
          "rev_c", "o_custkey", k = 10))),

      // Wald SPRT over the per-priority order stream: H0 30% vs H1 40%
      // 'F'-status rate — quantized-once log constants embedded as the
      // SAME literals in both engines, pure integer walk
      RegisteredQuery(
        "q_sprt",
        (s, dir) => graft.operators.Sprt.bernoulli(
            Tables.resolve(s, dir)("orders").select(
              col("o_orderpriority"),
              col("o_orderkey"),
              when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("x")),
            "o_orderpriority", "o_orderkey", "x",
            p0Num = 30, p0Den = 100, p1Num = 40, p1Den = 100,
            alphaBp = 500, betaBp = 2000)
          .orderBy("o_orderpriority"),
        Some(graft.operators.Sprt.oracleSql(
          """SELECT o_orderpriority AS grp, o_orderkey AS i,
  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS x
FROM orders""",
          "o_orderpriority",
          graft.operators.Sprt.consts(30, 100, 40, 100, 500, 2000)))),

      // Chapman capture-recapture: two deterministic order samples per
      // priority estimate the active-customer population from their
      // overlap — exact counts, floor-divided estimator and variance
      RegisteredQuery(
        "q_capture_recapture",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
          val a = o.where(pmod(col("o_orderkey"), lit(3)) === 0)
            .select(col("o_orderpriority"), col("o_custkey"))
          val b = o.where(pmod(col("o_orderkey"), lit(2)) === 0)
            .select(col("o_orderpriority"), col("o_custkey"))
          graft.operators.CaptureRecapture.chapman(
              a, b, "o_custkey", Seq("o_orderpriority"))
            .orderBy("o_orderpriority")
        },
        Some(graft.operators.CaptureRecapture.oracleSql(
          "SELECT o_orderpriority, o_custkey AS k FROM orders WHERE o_orderkey % 3 = 0",
          "SELECT o_orderpriority, o_custkey AS k FROM orders WHERE o_orderkey % 2 = 0",
          Seq("o_orderpriority")))),

      // pairwise DTW over weekly per-priority revenue shapes: the native
      // DP expression vs the nested list_reduce rolling-row oracle
      RegisteredQuery(
        "q_dtw_matrix",
        (s, dir) => {
          val weekly = Tables.resolve(s, dir)("orders")
            .groupBy(col("o_orderpriority"),
              call_function("div",
                datediff(col("o_orderdate").cast("date"),
                  lit("1970-01-01").cast("date")).cast("long"),
                lit(7L)).as("wk"))
            .agg(sum(cents("o_totalprice")).as("x"))
          graft.operators.Dtw.pairwiseMatrix(
              weekly, "o_orderpriority", "wk", "x")
            .orderBy("group_a", "group_b")
        },
        Some(graft.operators.Dtw.pairwiseOracle(
          s"""SELECT o_orderpriority AS grp,
  (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS i,
  CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS x
FROM orders GROUP BY 1, 2""",
          "group_a", "group_b"))),

      // B-cubed precision/recall: the over-merge vs over-split split of
      // clustering quality, off the same contingency cells as
      // q_adjusted_rand
      RegisteredQuery(
        "q_bcubed",
        (s, dir) => graft.operators.RandIndex.bCubed(
            Tables.resolve(s, dir)("documents"), "source", "lang"),
        Some(graft.operators.RandIndex.bCubedOracle(
          "documents", "source", "lang"))),

      // purged temporal split: train < day 19740, 3-day embargo, test
      // after — split sizes and the cross-side entity-memorization audit
      RegisteredQuery(
        "q_temporal_split",
        (s, dir) => graft.operators.TemporalSplit.summary(
            Tables.resolve(s, dir)("events").select(
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
                .cast("long").as("i"),
              col("user_id").as("e")),
            "i", "e", boundary = 19740L, embargoLen = 3L)
          .orderBy("split"),
        Some(graft.operators.TemporalSplit.summaryOracle(
          """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
  user_id AS e FROM events""",
          boundary = 19740L, embargoLen = 3L))),

      RegisteredQuery(
        "q_split_leakage",
        (s, dir) => graft.operators.TemporalSplit.entityLeakage(
            Tables.resolve(s, dir)("events").select(
              datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
                .cast("long").as("i"),
              col("user_id").as("e")),
            "i", "e", boundary = 19740L, embargoLen = 3L)
          .orderBy("e"),
        Some(graft.operators.TemporalSplit.leakageOracle(
          """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS i,
  user_id AS e FROM events""",
          "e", boundary = 19740L, embargoLen = 3L))),

      // Unicode script mix over formula-injected multi-script payloads:
      // the differential fixture recomputes every expectation from the
      // same generator in SQL (the q_utf8_stats pattern)
      RegisteredQuery(
        "q_script_mix",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"), graft.functions.ScriptMix(concat(
            substring(col("text"), 1, 20),
            expr("repeat('文', CAST(doc_id % 5 AS INT))"),
            expr("repeat('ж', CAST(doc_id % 3 AS INT))"),
            expr("repeat('م', CAST(doc_id % 2 AS INT))"))).as("m"))
          .select(col("doc_id"), col("m.n_cp").as("n_cp"),
            col("m.ascii_letter").as("ascii_letter"),
            col("m.whitespace").as("whitespace"),
            col("m.cyrillic").as("cyrillic"),
            col("m.arabic").as("arabic"), col("m.cjk").as("cjk"),
            col("m.other").as("other"))
          .orderBy("doc_id"),
        Some("""SELECT doc_id,
  CAST(20 + doc_id % 5 + doc_id % 3 + doc_id % 2 AS BIGINT) AS n_cp,
  CAST(length(replace(substr(text, 1, 20), ' ', '')) AS BIGINT) AS ascii_letter,
  CAST(20 - length(replace(substr(text, 1, 20), ' ', '')) AS BIGINT) AS whitespace,
  CAST(doc_id % 3 AS BIGINT) AS cyrillic,
  CAST(doc_id % 2 AS BIGINT) AS arabic,
  CAST(doc_id % 5 AS BIGINT) AS cjk,
  CAST(0 AS BIGINT) AS other
FROM documents ORDER BY doc_id""")),

      // MATCH_RECOGNIZE-lite: view -> click -> purchase, each within 2h
      // of the previous, with NO error event between the matched steps —
      // the declared greedy machine folded identically in both engines
      RegisteredQuery(
        "q_sequence_match",
        (s, dir) => graft.llm.SequenceMatch.firstCleanMatch(
            Tables.resolve(s, dir)("events"),
            steps = Seq("view", "click", "purchase"),
            excluded = Seq("error"), maxGapMicros = 7200000000L)
          .orderBy("user_id"),
        Some(graft.llm.SequenceMatch.oracleSql(
          "events", steps = Seq("view", "click", "purchase"),
          excluded = Seq("error"), maxGapMicros = 7200000000L))),

      // Wald-Wolfowitz runs test: is the above/below-median sign pattern
      // of order totals random along the orderkey sequence, per priority
      // — observed runs vs the exact rational null moments
      RegisteredQuery(
        "q_runs_test",
        (s, dir) => graft.operators.RunsTest.runsTest(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "o_orderkey", "cents",
            threshold = 15000000L)
          .orderBy("o_orderpriority"),
        Some(graft.operators.RunsTest.oracleSql(
          s"""SELECT o_orderpriority AS grp, o_orderkey AS i,
  ${centsSql("o_totalprice")} AS v
FROM orders""",
          "o_orderpriority", threshold = 15000000L))),

      // Mann-Kendall trend test on the monthly revenue series per
      // priority: exact S off the native O(n log n) inversion count,
      // tie-corrected var18 from per-value marginals — the oracle
      // replays the naive pair join at gate scale
      RegisteredQuery(
        "q_mann_kendall",
        (s, dir) => graft.operators.MannKendall.trend(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
                  .cast("long").as("m"))
              .agg(sum(cents("o_totalprice")).as("rev")),
            "o_orderpriority", "m", "rev")
          .orderBy("o_orderpriority"),
        Some(graft.operators.MannKendall.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS i,
  CAST(sum(${centsSql("o_totalprice")})
    AS BIGINT) AS v
FROM orders GROUP BY 1, 2""",
          "o_orderpriority"))),

      // audience overlap by HLL inclusion-exclusion: customers active
      // in BOTH 1995 and 1996 per priority, at constant register
      // memory — union estimate off the max-merged registers, all
      // three estimates the exact-integer replayable form
      RegisteredQuery(
        "q_hll_overlap",
        (s, dir) => graft.operators.HllOverlap.overlap(
            Tables.resolve(s, dir)("orders")
              .where(year(col("o_orderdate")).isin(1995, 1996))
              .withColumn("yr", year(col("o_orderdate")).cast("string")),
            Seq("o_orderpriority"), "o_custkey", "yr", "1995", "1996")
          .orderBy("o_orderpriority"),
        Some(graft.operators.HllOverlap.oracleSql(
          """SELECT o_orderpriority, o_custkey,
  CAST(year(o_orderdate) AS VARCHAR) AS __cohort
FROM orders WHERE year(o_orderdate) IN (1995, 1996)""",
          Seq("o_orderpriority"), "o_custkey", "1995", "1996"))),

      // CIDR longest-prefix enrichment: id-derived ipv4 traffic against
      // a nation-derived routing table (/8 per nation + a /12 regional
      // refinement + a /0 default) — banded equi-join, never a
      // nested loop; oracle keeps the textbook QUALIFY-ranked form
      RegisteredQuery(
        "q_cidr_enrich",
        (s, dir) => {
          val nation = Tables.resolve(s, dir)("nation")
          val nets = nation.select(
              concat(col("n_nationkey").cast("string"), lit(".0.0.0/8"))
                .as("cidr"), col("n_name").cast("string").as("label"))
            .unionByName(nation.select(
              concat(col("n_nationkey").cast("string"), lit("."),
                (col("n_regionkey") * 16).cast("string"), lit(".0.0/12"))
                .as("cidr"),
              concat(col("n_name").cast("string"), lit("-r")).as("label")))
            .unionByName(nation.limit(1).select(
              lit("0.0.0.0/0").as("cidr"), lit("default").as("label")))
          val facts = Tables.resolve(s, dir)("orders")
            .select(col("o_orderkey"),
              expr("(o_orderkey * 2654435761L) % 4294967296L").as("ipv"))
          graft.operators.CidrJoin.matchMap(
            facts, "o_orderkey", "ipv", nets, "cidr", Seq("label"))
            .orderBy("o_orderkey")
        },
        Some(graft.operators.CidrJoin.matchMapOracle(
          """SELECT o_orderkey AS id,
  (o_orderkey * 2654435761) % 4294967296 AS ip FROM orders""",
          """SELECT CAST(n_nationkey AS VARCHAR) || '.0.0.0/8' AS cidr,
  CAST(n_name AS VARCHAR) AS label FROM nation
UNION ALL
SELECT CAST(n_nationkey AS VARCHAR) || '.' ||
  CAST(n_regionkey * 16 AS VARCHAR) || '.0.0/12',
  CAST(n_name AS VARCHAR) || '-r' FROM nation
UNION ALL
SELECT '0.0.0.0/0', 'default'""",
          "o_orderkey", Seq("label")))),

      // positional phrase search: exact "table table" occurrences via
      // anchor alignment (one shuffle, repeated-term slots exercised) —
      // the oracle keeps the direct sliding-window form
      RegisteredQuery(
        "q_phrase_search",
        (s, dir) => graft.text.PhraseSearch.phraseMatches(
            Tables.resolve(s, dir)("documents"),
            "doc_id", "text", Seq("table", "table"))
          .orderBy("doc_id", "start_pos"),
        Some(graft.text.PhraseSearch.matchesOracle(
          "documents", "doc_id", "text", Seq("table", "table")))),

      // per-document phrase hit counts for a 2-gram
      RegisteredQuery(
        "q_phrase_counts",
        (s, dir) => graft.text.PhraseSearch.phraseCounts(
            Tables.resolve(s, dir)("documents"),
            "doc_id", "text", Seq("fast", "table"))
          .orderBy("doc_id"),
        Some(graft.text.PhraseSearch.countsOracle(
          "documents", "doc_id", "text", Seq("fast", "table")))),

      // decision stump: which quantity threshold best separates
      // returned line items, per line status — exact quantized Gini
      // argmin over the distinct-value candidates
      RegisteredQuery(
        "q_best_split",
        (s, dir) => graft.operators.BestSplit.giniStump(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("long"))
              .withColumn("y",
                when(col("l_returnflag") === "R", 1L).otherwise(0L)),
            "l_linestatus", "qty", "y")
          .orderBy("l_linestatus"),
        Some(graft.operators.BestSplit.oracleSql(
          """SELECT l_linestatus AS grp, CAST(l_quantity AS BIGINT) AS x,
  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem""",
          "l_linestatus"))),

      // sequential Poisson (PPS) sampling: 10 documents per language,
      // inclusion ~ proportional to length — priority = hash div weight,
      // bottom-k through the bounded partial-agg buffer
      RegisteredQuery(
        "q_pps_sample",
        (s, dir) => graft.operators.PpsSample.ppsN(
            Tables.resolve(s, dir)("documents"),
            Seq("lang"), col("doc_id").cast("string"), col("doc_id"),
            "n_chars", n = 10)
          .orderBy("lang", "rank"),
        Some(graft.operators.PpsSample.oracleSql(
          "documents", Seq("lang"), "CAST(doc_id AS VARCHAR)",
          "doc_id", "n_chars", n = 10))),

      // deterministic Lloyd k-means: 5 clusters, 3 rounds over 4-D
      // id-derived integer features — declared init (k smallest ids),
      // lower-cluster ties, truncating centroid means; the
      // oracle unrolls the rounds as CTEs (the HITS precedent)
      RegisteredQuery(
        "q_kmeans",
        (s, dir) => graft.operators.KMeans.lloydAssign(
            Tables.resolve(s, dir)("orders")
              .select(col("o_orderkey"), array(
                col("o_orderkey") % 97,
                col("o_custkey") % 89,
                cents("o_totalprice") % 83,
                datediff(col("o_orderdate"), lit("1992-01-01"))
                  .cast("long") % 79).as("v")),
            "o_orderkey", "v", k = 5, rounds = 3, dim = 4)
          .orderBy("o_orderkey"),
        Some(graft.operators.KMeans.assignOracle(
          s"""SELECT o_orderkey AS id, [
  o_orderkey % 97, o_custkey % 89,
  ${centsSql("o_totalprice")} % 83,
  CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) % 79] AS v
FROM orders""",
          "o_orderkey", k = 5, rounds = 3, dim = 4))),

      // Croston intermittent demand: per-user purchase-day demand
      // (id-derived sizes, day-level pre-aggregation) — size and gap
      // EWMAs updated only at demand points, gaps from idx differences
      RegisteredQuery(
        "q_croston",
        (s, dir) => graft.operators.Croston.method(
            Tables.resolve(s, dir)("events")
              .where(col("event_type") === "purchase")
              .groupBy(col("user_id"),
                datediff(col("ts").cast("date"), lit("2023-12-31"))
                  .cast("long").as("day"))
              .agg(sum(expr("event_id % 9 + 1")).as("demand")),
            "user_id", "day", "demand", alphaNum = 1, alphaDen = 5,
            startIdx = 0L)
          .orderBy("user_id", "idx"),
        Some(graft.operators.Croston.oracleSql(
          """SELECT user_id AS grp,
  CAST(CAST(ts AS DATE) - DATE '2023-12-31' AS BIGINT) AS i,
  sum(event_id % 9 + 1) AS x
FROM events WHERE event_type = 'purchase' GROUP BY 1, 2""",
          "user_id", alphaNum = 1, alphaDen = 5, startIdx = 0L))),

      // token-bucket rate-limit replay: would each user's full event
      // stream have been throttled at 1 event / 2h with burst 3 —
      // min/plus integer recurrence, no division anywhere
      RegisteredQuery(
        "q_token_bucket",
        (s, dir) => graft.operators.TokenBucket.replay(
            Tables.resolve(s, dir)("events")
              .withColumn("sec",
                expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000L")),
            "user_id", "sec", "event_id",
            rateNum = 1, rateDen = 7200, burst = 3)
          .orderBy("user_id", "idx", "id"),
        Some(graft.operators.TokenBucket.replayOracle(
          """SELECT user_id AS grp, epoch_us(ts) // 1000000 AS i,
  event_id AS id FROM events""",
          "user_id", rateNum = 1, rateDen = 7200, burst = 3))),

      // stratified 2x2: does high quantity associate with returns,
      // per line status — exact OR/RR fractions with zero-cell flags
      RegisteredQuery(
        "q_odds_ratio",
        (s, dir) => graft.operators.Epi.twoByTwo(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("e", when(col("l_quantity") > 25, 1L).otherwise(0L))
              .withColumn("o",
                when(col("l_returnflag") === "R", 1L).otherwise(0L)),
            "l_linestatus", "e", "o")
          .orderBy("l_linestatus"),
        Some(graft.operators.Epi.twoByTwoOracle(
          """SELECT l_linestatus AS grp,
  CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS e,
  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o FROM lineitem""",
          "l_linestatus"))),

      // Mantel-Haenszel pooled odds ratio across the linestatus strata
      RegisteredQuery(
        "q_or_mh",
        (s, dir) => graft.operators.Epi.mantelHaenszel(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("e", when(col("l_quantity") > 25, 1L).otherwise(0L))
              .withColumn("o",
                when(col("l_returnflag") === "R", 1L).otherwise(0L)),
            "l_linestatus", "e", "o"),
        Some(graft.operators.Epi.mantelHaenszelOracle(
          """SELECT l_linestatus AS grp,
  CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS e,
  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o FROM lineitem"""))),

      // streaming token-bucket enforcement: three chunked folds over
      // the event stream vs the one-shot batch oracle — the limiter's
      // Markov (last_i, level) state lives in the AtomicStore
      RegisteredQuery(
        "q_bucket_ingest",
        (s, dir) => {
          val store = freshStore(s, "bucket_ingest_gate_store")
          val lake = freshStore(s, "bucket_ingest_gate_lake")
          val ev = Tables.resolve(s, dir)("events")
            .select(col("user_id"),
              expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000L")
                .as("sec"), col("event_id"))
            .localCheckpoint(true)
          val cut1 = 1704300000L; val cut2 = 1705000000L
          Seq(col("sec") < cut1,
            col("sec") >= cut1 && col("sec") < cut2,
            col("sec") >= cut2).foreach { cut =>
            graft.streaming.BucketIngest.ingestBatch(
              ev.where(cut), store, lake, "user_id", "sec", "event_id",
              rateNum = 1, rateDen = 7200, burst = 3)
          }
          s.read.parquet(lake).orderBy("user_id", "idx", "id")
        },
        Some(graft.operators.TokenBucket.replayOracle(
          """SELECT user_id AS grp, epoch_us(ts) // 1000000 AS i,
  event_id AS id FROM events""",
          "user_id", rateNum = 1, rateDen = 7200, burst = 3))),

      // JPEG EXIF orientation: synthesized per-doc JPEGs (APP0 skip +
      // APP1/TIFF in BOTH byte orders, orientation = doc_id%8+1) —
      // the differential-fixture oracle recomputes from the generator
      RegisteredQuery(
        "q_exif_meta",
        (s, dir) => {
          val app0 = "FFE000104A46494600" + "00" * 9
          val pII = "FFD8" + app0 + "FFE10022457869660000" +
            "49492A0008000000" + "0100" + "1201030001000000"
          val pMM = "FFD8" + app0 + "FFE10022457869660000" +
            "4D4D002A00000008" + "0001" + "0112000300000001"
          val orHex = lpad(hex(expr("doc_id % 8 + 1")), 2, "0")
          val payload = unhex(
            when(expr("doc_id % 2 = 0"),
              concat(lit(pII), orHex, lit("000000" + "00000000")))
              .otherwise(concat(lit(pMM), lit("00"), orHex,
                lit("0000" + "00000000"))))
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"),
              graft.functions.ExifMeta(payload).as("m"))
            .select(col("doc_id"), col("m.byte_order").as("byte_order"),
              col("m.orientation").as("orientation"),
              col("m.n_ifd0").as("n_ifd0"))
            .orderBy("doc_id")
        },
        Some("""SELECT doc_id,
  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
  CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
  CAST(1 AS INTEGER) AS n_ifd0
FROM documents ORDER BY doc_id""")),

      // NFC normalization audit: every third document gets an NFD
      // "e + combining acute" injected — the oracle replays with
      // DuckDB's own nfc_normalize (same Unicode tables)
      RegisteredQuery(
        "q_nfc_audit",
        (s, dir) => Tables.resolve(s, dir)("documents")
          .select(col("doc_id"),
            graft.functions.NfcStats(
              when(expr("doc_id % 3 = 0"),
                concat(col("text"), lit(" cafe\u0301")))
                .otherwise(col("text"))).as("m"))
          .select(col("doc_id"), col("m.is_nfc").as("is_nfc"),
            col("m.n_cp").as("n_cp"), col("m.n_cp_nfc").as("n_cp_nfc"))
          .orderBy("doc_id"),
        Some("""SELECT doc_id, t = nfc_normalize(t) AS is_nfc,
  CAST(length(t) AS INTEGER) AS n_cp,
  CAST(length(nfc_normalize(t)) AS INTEGER) AS n_cp_nfc
FROM (SELECT doc_id, CASE WHEN doc_id % 3 = 0
    THEN text || ' cafe' || chr(769) ELSE text END AS t FROM documents)
ORDER BY doc_id""")),

      // overdispersion audit: are daily order counts Poisson-like per
      // priority — exact fraction + cross-multiplied verdict
      RegisteredQuery(
        "q_fano",
        (s, dir) => graft.operators.Dispersion.fano(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                col("o_orderdate").cast("date").as("d"))
              .agg(count(lit(1)).as("c")),
            "o_orderpriority", "c")
          .orderBy("o_orderpriority"),
        Some(graft.operators.Dispersion.oracleSql(
          """SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS x
FROM orders GROUP BY o_orderpriority, CAST(o_orderdate AS DATE)""",
          "o_orderpriority"))),

      // business-day arithmetic: SLA windows per order (weekday count
      // minus a declared holiday calendar) + the T+n settlement roll
      // from the order's week start — scan-stage literal-calendar math
      RegisteredQuery(
        "q_business_days", {
          val hols = Seq("1994-01-03", "1995-07-04", "1996-12-25")
          (s, dir) => Tables.resolve(s, dir)("orders")
            .select(col("o_orderkey"),
              graft.operators.BusinessDays.businessDays(
                col("o_orderdate"),
                expr("date_add(CAST(o_orderdate AS DATE), " +
                  "CAST(o_orderkey % 30 AS INT))"), hols).as("bd"),
              graft.operators.BusinessDays.addBusinessDays(
                date_trunc("week", col("o_orderdate")),
                expr("o_orderkey % 23")).as("rolled"))
            .orderBy("o_orderkey")
        },
        Some {
          val hols = Seq("1994-01-03", "1995-07-04", "1996-12-25")
          s"""SELECT o_orderkey,
  CAST(${graft.operators.BusinessDays.businessDaysSql("o_orderdate",
            "CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INTEGER)",
            hols)} AS BIGINT) AS bd,
  ${graft.operators.BusinessDays.addBusinessDaysSql(
            "date_trunc('week', CAST(o_orderdate AS DATE))",
            "(o_orderkey % 23)")} AS rolled
FROM orders ORDER BY o_orderkey"""
        }),

      // Jensen-Shannon drift between 1995 and 1996 order-priority
      // mixes — bounded, symmetric, finite on new categories, per
      // category with the counts beside it
      RegisteredQuery(
        "q_jsd_drift",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
          graft.operators.Jsd.jsdCategorical(
              o.where(year(col("o_orderdate")) === 1995)
                .select(col("o_orderpriority").as("v")),
              o.where(year(col("o_orderdate")) === 1996)
                .select(col("o_orderpriority").as("v")),
              "v")
            .orderBy("value")
        },
        Some(graft.operators.Jsd.oracleSql(
          "SELECT o_orderpriority AS v FROM orders WHERE year(o_orderdate) = 1995",
          "SELECT o_orderpriority AS v FROM orders WHERE year(o_orderdate) = 1996"))),

      // exact Shapley attribution: purchase credit over each user's
      // pre-conversion channel coalition — the unanimity closed form,
      // credits in exact 1/lcm units, efficiency preserved
      RegisteredQuery(
        "q_shapley",
        (s, dir) => graft.llm.ShapleyAttribution.shapley(
            Tables.resolve(s, dir)("events"),
            "user_id", "event_type", "ts", "purchase")
          .orderBy("channel"),
        Some(graft.llm.ShapleyAttribution.oracleSql(
          """SELECT user_id AS u, event_type AS c, epoch_us(ts) AS t_us
FROM events""",
          "purchase"))),

      // post-stratified ATE: does high quantity "treat" revenue per
      // item, adjusted for line status — exact per-stratum fractions
      // plus the size-weighted pooled readout
      RegisteredQuery(
        "q_stratified_ate",
        (s, dir) => {
          val li = Tables.resolve(s, dir)("lineitem")
            .withColumn("t", when(col("l_quantity") > 25, 1L).otherwise(0L))
            .withColumn("cents", cents("l_extendedprice"))
          graft.operators.StratifiedAte.byStratum(li, "l_linestatus",
              "t", "cents")
            .unionByName(
              graft.operators.StratifiedAte.pooled(li, "l_linestatus",
                  "t", "cents")
                .select(lit("__pooled").as("l_linestatus"),
                  col("n_strata_pooled").as("n_treat"),
                  col("n_strata_dropped").as("n_ctrl"),
                  col("n_rows_pooled").as("sum_treat"),
                  col("pool_den").as("sum_ctrl"),
                  col("pool_num_q6").cast("string").as("diff_num"),
                  col("pool_den").cast("string").as("diff_den"),
                  lit(null).cast("long").as("ate_q6")))
            .orderBy("l_linestatus")
        },
        Some {
          val rows = s"""SELECT l_linestatus AS grp,
  CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS t,
  ${centsSql("l_extendedprice")} AS y
FROM lineitem"""
          s"""SELECT * FROM (${graft.operators.StratifiedAte
            .byStratumOracle(rows, "l_linestatus")})
UNION ALL
SELECT '__pooled', n_strata_pooled, n_strata_dropped, n_rows_pooled,
  pool_den, CAST(pool_num_q6 AS VARCHAR), CAST(pool_den AS VARCHAR), NULL
FROM (${graft.operators.StratifiedAte.pooledOracle(rows)})
ORDER BY 1"""
        }),

      // CUPED: a hash-assigned pseudo-experiment on per-item revenue
      // with quantity as the pre-period covariate — the declared
      // truncation ladder publishes theta, raw and adjusted effects
      RegisteredQuery(
        "q_cuped",
        (s, dir) => graft.operators.Cuped.adjustedEffect(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("t", expr("l_orderkey % 2"))
              .withColumn("qty", col("l_quantity").cast("long"))
              .withColumn("cents", cents("l_extendedprice")),
            "l_linestatus", "t", "qty", "cents")
          .orderBy("l_linestatus"),
        Some(graft.operators.Cuped.oracleSql(
          s"""SELECT l_linestatus AS grp, l_orderkey % 2 AS t,
  CAST(l_quantity AS BIGINT) AS x,
  ${centsSql("l_extendedprice")} AS y
FROM lineitem""",
          "l_linestatus"))),

      // Murphy decomposition of the Brier score over an id-derived
      // milli-prob forecaster whose labels correlate with the forecast
      RegisteredQuery(
        "q_brier_decomp",
        (s, dir) => graft.operators.BrierDecomp.decompose(
            Tables.resolve(s, dir)("documents")
              .withColumn("p", expr("(doc_id * 37) % 1001"))
              .withColumn("y", expr(
                "CASE WHEN (doc_id * 2654435761L) % 1000 < " +
                  "(doc_id * 37) % 1001 THEN 1L ELSE 0L END")),
            "lang", "p", "y")
          .orderBy("lang"),
        Some(graft.operators.BrierDecomp.oracleSql(
          """SELECT lang AS grp, (doc_id * 37) % 1001 AS p,
  CASE WHEN (doc_id * 2654435761) % 1000 < (doc_id * 37) % 1001
       THEN 1 ELSE 0 END AS y
FROM documents""",
          "lang"))),

      // streaming sessionization: three chunked folds + flush over the
      // event stream vs the one-shot gaps-and-islands oracle — open
      // sessions are the only state, closed ones append-only
      RegisteredQuery(
        "q_session_ingest",
        (s, dir) => {
          val store = freshStore(s, "session_ingest_gate_store")
          val lake = freshStore(s, "session_ingest_gate_lake")
          val ev = Tables.resolve(s, dir)("events")
            .select(col("user_id"), col("ts"),
              expr("event_id % 9 + 1").as("v"))
            .withColumn("us", unix_micros(col("ts").cast("timestamp")))
            .localCheckpoint(true)
          val cut1 = 1704300000000000L; val cut2 = 1705000000000000L
          Seq(col("us") < cut1,
            col("us") >= cut1 && col("us") < cut2,
            col("us") >= cut2).foreach { cut =>
            graft.streaming.SessionIngest.ingestBatch(
              ev.where(cut), store, lake, "user_id", "ts", "v",
              gapMicros = 7200000000L)
          }
          graft.streaming.SessionIngest.flush(s, store, lake, "user_id",
            gapMicros = 7200000000L)
          s.read.parquet(lake).orderBy("user_id", "session_start")
        },
        Some(graft.streaming.SessionIngest.oracleSql(
          """SELECT user_id AS k, epoch_us(ts) AS t_us,
  event_id % 9 + 1 AS v FROM events""",
          "user_id", gapMicros = 7200000000L))),

      // k-truss over the high-quantity co-purchase graph: every
      // surviving edge has a common-neighbor witness inside the truss —
      // edge peeling to the fixpoint, oracle unrolls 10 rounds
      RegisteredQuery(
        "q_ktruss",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 45)
          graft.operators.KTruss.trussToFixpoint(edges, "src", "dst",
              k = 3, maxRounds = 10)
            .orderBy("src", "dst")
        },
        Some(graft.operators.KTruss.oracleSql(
          coPurchaseEdgesPrefilteredSql(45),
          k = 3, rounds = 10))),

      // fixed-width (positional) flat-file round-trip: nation through a
      // declared copybook layout — the mainframe-extract source member
      RegisteredQuery(
        "q_fixed_width_roundtrip",
        (s, dir) => {
          import graft.sources.FixedWidth
          val layout = Seq(
            FixedWidth.Field("n_nationkey", 1, 5, "long"),
            FixedWidth.Field("n_name", 6, 25, "string"),
            FixedWidth.Field("n_regionkey", 36, 5, "long"))
          val out = scratch("fixed_width_roundtrip")
          FixedWidth.write(
            Tables.resolve(s, dir)("nation")
              .select(col("n_nationkey"), col("n_name").cast("string")
                .as("n_name"), col("n_regionkey")),
            out, layout)
          FixedWidth.read(s, out, layout).orderBy("n_nationkey")
        },
        Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
  CAST(n_name AS VARCHAR) AS n_name,
  CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation ORDER BY n_nationkey""")),

      // beaconing screen: which (user, event_type) channels fire at
      // suspiciously regular intervals — low gap dispersion flags,
      // cross-multiplied exact at the threshold
      RegisteredQuery(
        "q_beaconing",
        (s, dir) => graft.operators.Beaconing.screen(
            Tables.resolve(s, dir)("events"),
            Seq("user_id", "event_type"), "ts",
            minGaps = 5L, maxFanoQ6 = 60000000L)
          .orderBy("user_id", "event_type"),
        Some(graft.operators.Beaconing.oracleSql(
          """SELECT user_id, event_type, epoch_us(ts) AS t_us FROM events""",
          Seq("user_id", "event_type"),
          minGaps = 5L, maxFanoQ6 = 60000000L))),

      // GIF animation metadata: synthesized per-doc animations
      // (doc_id%4+1 frames, per-frame delay 10+doc_id%5 cs, NETSCAPE
      // loop on even ids) — the differential-fixture oracle recomputes
      RegisteredQuery(
        "q_gif_anim",
        (s, dir) => {
          val headerNoGct = "4749463839610100010000" + "0000"
          val frameUnit = "2C000000000100010000" + "02024C0100"
          val loopHex = lpad(hex(expr("doc_id % 3")), 2, "0")
          val netscape = concat(
            lit("21FF0B4E45545343415045322E300301"), loopHex, lit("0000"))
          val hexStr = concat(lit(headerNoGct),
            when(expr("doc_id % 2 = 0"), netscape).otherwise(lit("")),
            expr(s"repeat(concat('21F90400', lpad(hex(10 + doc_id % 5), 2, '0'), '000000', '$frameUnit'), CAST(doc_id % 4 + 1 AS INT))"),
            lit("3B"))
          Tables.resolve(s, dir)("documents")
            .select(col("doc_id"),
              graft.functions.GifAnim(unhex(hexStr)).as("m"))
            .select(col("doc_id"), col("m.n_frames").as("n_frames"),
              col("m.total_delay_cs").as("total_delay_cs"),
              col("m.loops").as("loops"))
            .orderBy("doc_id")
        },
        Some("""SELECT doc_id,
  CAST(doc_id % 4 + 1 AS INTEGER) AS n_frames,
  CAST((10 + doc_id % 5) * (doc_id % 4 + 1) AS BIGINT) AS total_delay_cs,
  CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 3 ELSE -1 END AS INTEGER)
    AS loops
FROM documents ORDER BY doc_id""")),

      // Siegel repeated-median trend on the monthly revenue series —
      // the 50%-breakdown robust slope beside Theil-Sen's estimator
      RegisteredQuery(
        "q_siegel",
        (s, dir) => graft.operators.Siegel.slope(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
                  .cast("long").as("m"))
              .agg(sum(cents("o_totalprice")).as("rev")),
            "o_orderpriority", "m", "rev")
          .orderBy("o_orderpriority"),
        Some(graft.operators.Siegel.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS x,
  CAST(sum(${centsSql("o_totalprice")})
    AS BIGINT) AS y
FROM orders GROUP BY 1, 2""",
          "o_orderpriority"))),

      // multi-label eval: id-derived tag sets per language — micro vs
      // macro P/R/F1, exact match, never-predicted-label convention
      RegisteredQuery(
        "q_multilabel_eval",
        (s, dir) => graft.operators.MultiLabelEval.evaluate(
            Tables.resolve(s, dir)("documents")
              .withColumn("g", expr("filter(array(" +
                "CASE WHEN doc_id % 2 = 0 THEN 'a' END, " +
                "CASE WHEN doc_id % 3 = 0 THEN 'b' END, " +
                "CASE WHEN doc_id % 5 = 0 THEN 'c' END), x -> x IS NOT NULL)"))
              .withColumn("p", expr("filter(array(" +
                "CASE WHEN doc_id % 2 = 0 OR doc_id % 7 = 0 THEN 'a' END, " +
                "CASE WHEN doc_id % 4 = 0 THEN 'b' END, " +
                "CASE WHEN doc_id % 5 = 0 AND doc_id % 3 <> 0 THEN 'c' END" +
                "), x -> x IS NOT NULL)")),
            "lang", "g", "p")
          .orderBy("lang"),
        Some(graft.operators.MultiLabelEval.oracleSql(
          """SELECT lang AS grp,
  list_filter([CASE WHEN doc_id % 2 = 0 THEN 'a' END,
    CASE WHEN doc_id % 3 = 0 THEN 'b' END,
    CASE WHEN doc_id % 5 = 0 THEN 'c' END], x -> x IS NOT NULL) AS g,
  list_filter([CASE WHEN doc_id % 2 = 0 OR doc_id % 7 = 0 THEN 'a' END,
    CASE WHEN doc_id % 4 = 0 THEN 'b' END,
    CASE WHEN doc_id % 5 = 0 AND doc_id % 3 <> 0 THEN 'c' END],
    x -> x IS NOT NULL) AS p
FROM documents""",
          "lang"))),

      // KWIC concordance: every "vector" occurrence with ±3 tokens of
      // context — the corpus-inspection view over positional hits
      RegisteredQuery(
        "q_concordance",
        (s, dir) => graft.text.Concordance.kwic(
            Tables.resolve(s, dir)("documents"),
            "doc_id", "text", "vector", window = 3)
          .orderBy("doc_id", "pos"),
        Some(graft.text.Concordance.oracleSql(
          "documents", "doc_id", "text", "vector", window = 3))),

      // ledger running balance per customer: signed order postings in
      // (date, key) order — final/min balance and the first overdraft
      RegisteredQuery(
        "q_ledger_balance",
        (s, dir) => graft.operators.Ledger.runningBalance(
            Tables.resolve(s, dir)("orders")
              .withColumn("day", datediff(col("o_orderdate").cast("date"),
                lit("1990-01-01")).cast("long"))
              .withColumn("amt",
                cents("o_totalprice") *
                  when(expr("o_orderkey % 3 = 0"), -2L).otherwise(1L)),
            "o_custkey", "day", "o_orderkey", "amt")
          .orderBy("o_custkey"),
        Some(graft.operators.Ledger.runningBalanceOracle(
          s"""SELECT o_custkey AS acct,
  CAST(CAST(o_orderdate AS DATE) - DATE '1990-01-01' AS BIGINT) AS i,
  o_orderkey AS id,
  ${centsSql("o_totalprice")}
    * CASE WHEN o_orderkey % 3 = 0 THEN -2 ELSE 1 END AS a
FROM orders""",
          "o_custkey"))),

      // double-entry audit: two balanced legs per order plus a planted
      // 1-cent imbalance on every 97th — violations only
      RegisteredQuery(
        "q_double_entry",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .withColumn("cents", cents("o_totalprice"))
          val legs = o.select(col("o_orderkey").as("txn"),
              col("cents").as("amt"))
            .unionByName(o.select(col("o_orderkey").as("txn"),
              (-col("cents") +
                when(expr("o_orderkey % 97 = 0"), 1L).otherwise(0L))
                .as("amt")))
          graft.operators.Ledger.doubleEntry(legs, "txn", "amt")
            .orderBy("txn")
        },
        Some(graft.operators.Ledger.doubleEntryOracle(
          s"""SELECT o_orderkey AS txn,
  ${centsSql("o_totalprice")} AS a
FROM orders
UNION ALL
SELECT o_orderkey,
  -${centsSql("o_totalprice")}
    + CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END
FROM orders""",
          "txn"))),

      // binary segmentation: every mean shift in the monthly revenue
      // series per priority that clears the evidence bar — recursive
      // splits to depth 3, exact integer D statistic
      RegisteredQuery(
        "q_binary_seg",
        (s, dir) => graft.operators.BinarySeg.changePoints(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
                  .cast("long").as("m"))
              .agg(sum(cents("o_totalprice")).as("rev")),
            "o_orderpriority", "m", "rev",
            minSize = 6, minDev = 20000000000L, maxDepth = 3)
          .orderBy("o_orderpriority", "split_pos"),
        Some(graft.operators.BinarySeg.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS i,
  CAST(sum(${centsSql("o_totalprice")})
    AS BIGINT) AS x
FROM orders GROUP BY 1, 2""",
          "o_orderpriority", minSize = 6, minDev = 20000000000L,
          maxDepth = 3))),

      // distribution shape: exact central-moment numerators for the
      // quantity distribution per return flag — skew sign and the
      // heavy-tails verdict, n^4 factors cancelled exactly
      RegisteredQuery(
        "q_higher_moments",
        (s, dir) => graft.operators.HigherMoments.shape(
            Tables.resolve(s, dir)("lineitem")
              .withColumn("qty", col("l_quantity").cast("long")),
            "l_returnflag", "qty")
          .orderBy("l_returnflag"),
        Some(graft.operators.HigherMoments.oracleSql(
          "SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x " +
            "FROM lineitem",
          "l_returnflag"))),

      // trimmed mean of per-item revenue per priority: extremes from
      // bounded BottomK multisets — no per-group sort anywhere
      RegisteredQuery(
        "q_ktrim_mean",
        (s, dir) => graft.operators.TrimmedMean.trimmedMean(
            Tables.resolve(s, dir)("orders")
              .withColumn("cents", cents("o_totalprice")),
            "o_orderpriority", "cents", k = 25)
          .orderBy("o_orderpriority"),
        Some(graft.operators.TrimmedMean.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  ${centsSql("o_totalprice")} AS v
FROM orders""",
          "o_orderpriority", k = 25))),

      // newline-delimited flat-XML round-trip: nation with a hostile
      // entity-bearing field — escape/unescape proven cross-engine
      RegisteredQuery(
        "q_xml_roundtrip",
        (s, dir) => {
          import graft.sources.XmlLines
          val out = scratch("xml_lines_roundtrip")
          XmlLines.write(
            Tables.resolve(s, dir)("nation")
              .select(col("n_nationkey").cast("string").as("k"),
                concat(col("n_name").cast("string"), lit(" &<>'\"x"))
                  .as("nm")),
            out, "rec", Seq("k", "nm"))
          XmlLines.read(s, out, "rec", Seq("k", "nm"))
            .select(col("k").cast("long").as("n_nationkey"), col("nm"))
            .orderBy("n_nationkey")
        },
        Some("""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
  CAST(n_name AS VARCHAR) || ' &<>''"x' AS nm
FROM nation ORDER BY n_nationkey""")),

      // frequent part triples across order baskets — A-priori pruned
      // generation vs the naive 3-way oracle (downward closure)
      RegisteredQuery(
        "q_freq_triples",
        (s, dir) => graft.operators.CoOccurrence.triples(
            Tables.resolve(s, dir)("lineitem"), "l_orderkey", "l_partkey",
            minCount = 2, maxBasket = 100)
          .orderBy("item_a", "item_b", "item_c"),
        Some(graft.operators.CoOccurrence.triplesOracle(
          "lineitem", "l_orderkey", "l_partkey",
          minCount = 2, maxBasket = 100))),

      // rich-club curve over the co-purchase graph: do high-degree
      // parts co-purchase with each other — one-pass min-endpoint
      // decomposition across the declared thresholds
      RegisteredQuery(
        "q_rich_club",
        (s, dir) => {
          val edges = coPurchaseEdges(Tables.resolve(s, dir)("lineitem"), 45)
          graft.operators.RichClub.coefficients(edges, "src", "dst",
              Seq(0L, 1L, 2L, 3L, 5L, 8L))
            .orderBy("k")
        },
        Some(graft.operators.RichClub.oracleSql(
          coPurchaseEdgesPrefilteredSql(45),
          Seq(0L, 1L, 2L, 3L, 5L, 8L)))),

      // quantile-shift table: WHERE did the 1995-vs-1996 order-value
      // distribution move, per priority — quartiles + P90 off one
      // cumulative pass per side
      RegisteredQuery(
        "q_quantile_shift",
        (s, dir) => {
          val o = Tables.resolve(s, dir)("orders")
            .withColumn("cents", cents("o_totalprice"))
          graft.operators.QuantileShift.shiftTable(
              o.where(year(col("o_orderdate")) === 1995),
              o.where(year(col("o_orderdate")) === 1996),
              "o_orderpriority", "cents",
              Seq((1L, 4L), (1L, 2L), (3L, 4L), (9L, 10L)))
            .orderBy("o_orderpriority", "q_num", "q_den")
        },
        Some(graft.operators.QuantileShift.oracleSql(
          s"""SELECT o_orderpriority AS grp,
  ${centsSql("o_totalprice")} AS v
FROM orders WHERE year(o_orderdate) = 1995""",
          s"""SELECT o_orderpriority AS grp,
  ${centsSql("o_totalprice")} AS v
FROM orders WHERE year(o_orderdate) = 1996""",
          "o_orderpriority",
          Seq((1L, 4L), (1L, 2L), (3L, 4L), (9L, 10L))))),

      // zero-inflation audit over per-user daily purchase counts on the
      // dense January grid — the Croston precondition check
      RegisteredQuery(
        "q_zero_inflation",
        (s, dir) => graft.operators.ZeroInflation.audit(
            Tables.resolve(s, dir)("events")
              .where(col("event_type") === "purchase")
              .groupBy(col("user_id"),
                datediff(col("ts").cast("date"), lit("2023-12-31"))
                  .cast("long").as("day"))
              .agg(count(lit(1)).as("c"))
              // densify: every user x 30 days, absent days are zeros
              .groupBy("user_id").agg(
                sum("c").as("__total"), collect_list(struct(col("day"),
                  col("c"))).as("__days"))
              .select(col("user_id"), explode(expr(
                """transform(sequence(1L, 30L), d ->
  coalesce(get(filter(__days, x -> x.day = d), 0).c, 0L))""")).as("c")),
            "user_id", "c")
          .orderBy("user_id"),
        Some(graft.operators.ZeroInflation.oracleSql(
          """SELECT u.user_id AS grp, coalesce(p.c, 0) AS x
FROM (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') u
CROSS JOIN (SELECT unnest(generate_series(1, 30)) AS d) days
LEFT JOIN (SELECT user_id, CAST(ts AS DATE) - DATE '2023-12-31' AS d,
    CAST(count(*) AS BIGINT) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
  ON p.user_id = u.user_id AND p.d = days.d""",
          "user_id"))),

      // Dunning G2 keyness: which tokens distinguish English documents
      // from the rest of the corpus — per-term-floored 2x2 chains
      RegisteredQuery(
        "q_keyness",
        (s, dir) => graft.text.Keyness.keyness(
            Tables.resolve(s, dir)("documents"),
            "text", col("lang") === "en", minCount = 50L)
          .orderBy("term"),
        Some(graft.text.Keyness.oracleSql(
          "SELECT text AS txt, lang = 'en' AS in_slice FROM documents",
          minCount = 50L))),

      // Kaplan-Meier survival curves per order priority over id-derived
      // durations with %5 right-censoring — the curve the q_log_rank
      // test compares; quantized-ln survival, exact at-risk/death counts
      RegisteredQuery(
        "q_kaplan_meier",
        (s, dir) => KaplanMeier.curve(
            Tables.resolve(s, dir)("orders").select(
              col("o_orderpriority").as("arm"),
              (pmod(col("o_orderkey"), lit(40)) + 1).as("dur"),
              when(pmod(col("o_orderkey"), lit(5)) === 0, 0L).otherwise(1L)
                .as("ev")),
            "arm", "dur", "ev")
          .orderBy("arm", "t"),
        Some(KaplanMeier.oracleSql(
          """SELECT o_orderpriority AS grp, o_orderkey % 40 + 1 AS t,
  CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE 1 END AS e
FROM orders""",
          "arm"))),

      // deterministic Poisson bootstrap: hash-derived Poisson(1) weights,
      // 32 resampled revenue sums per returnflag from ONE scan, exact
      // rank-2/rank-31 interval — an uncertainty readout that hash-gates
      RegisteredQuery(
        "q_poisson_boot",
        (s, dir) => PoissonBoot.summary(
            Tables.resolve(s, dir)("lineitem").select(
              col("l_returnflag"),
              concat(col("l_orderkey").cast("string"), lit("-"),
                col("l_linenumber").cast("string")).as("rid"),
              cents("l_extendedprice").as("cents")),
            "l_returnflag", "rid", "cents", reps = 32, loRank = 2,
            hiRank = 31)
          .orderBy("l_returnflag"),
        Some(PoissonBoot.summaryOracle(
          s"""SELECT l_returnflag AS grp,
  CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS id,
  ${centsSql("l_extendedprice")} AS x
FROM lineitem""",
          "l_returnflag", reps = 32, loRank = 2, hiRank = 31))),

      // the raw bootstrap replicates (same hash discipline) over order
      // totals per priority — the caller-chooses-the-functional form
      RegisteredQuery(
        "q_poisson_boot_reps",
        (s, dir) => PoissonBoot.replicates(
            Tables.resolve(s, dir)("orders").select(
              col("o_orderpriority"),
              col("o_orderkey").cast("string").as("rid"),
              cents("o_totalprice").as("cents")),
            "o_orderpriority", "rid", "cents", reps = 8)
          .orderBy("o_orderpriority", "rep"),
        Some(PoissonBoot.replicatesOracle(
          s"""SELECT o_orderpriority AS grp, CAST(o_orderkey AS VARCHAR) AS id,
  ${centsSql("o_totalprice")} AS x
FROM orders""",
          "o_orderpriority", reps = 8))),

      // partial autocorrelation of the daily order-count series per
      // priority — exact covariance numerators, q6-quantized ACF, integer
      // Toeplitz-determinant PACF (the Box-Jenkins AR-order screen)
      RegisteredQuery(
        "q_pacf",
        (s, dir) => Pacf.pacf(
            Tables.resolve(s, dir)("orders")
              .groupBy(col("o_orderpriority"),
                expr("datediff(o_orderdate, DATE'1992-01-01')").as("day"))
              .agg(count(lit(1)).as("cnt")),
            "o_orderpriority", "day", "cnt")
          .orderBy("o_orderpriority", "lag"),
        Some(Pacf.oracleSql(
          """SELECT o_orderpriority AS grp,
  date_diff('day', DATE '1992-01-01', o_orderdate) AS t,
  CAST(count(*) AS BIGINT) AS x
FROM orders GROUP BY 1, 2""",
          "o_orderpriority"))),

      // temperature-weighted corpus mixing at alpha = 1/2 over the
      // documents sources — per-source weight/draw/epochs at a declared
      // 10M-token budget (the pretraining-recipe audit table)
      RegisteredQuery(
        "q_temperature_mix",
        (s, dir) => graft.llm.TemperatureMix.mix(
            Tables.resolve(s, dir)("documents").select(
              col("source"),
              graft.text.TextFunctions.nTokens(col("text")).cast("long")
                .as("tok")),
            "source", "tok", alphaNum = 1, alphaDen = 2,
            tokenBudget = 10000000L)
          .orderBy("source"),
        Some(graft.llm.TemperatureMix.oracleSql(
          """SELECT source AS src,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents""",
          "source", alphaNum = 1, alphaDen = 2, tokenBudget = 10000000L))),

      // Fleiss' kappa over a deterministic 3-rater panel on orders —
      // exact rational agreement, one (item, category) collapse
      RegisteredQuery(
        "q_fleiss_kappa",
        (s, dir) => FleissKappa.kappa(
            Tables.resolve(s, dir)("orders")
              .select(col("o_orderkey"), col("o_custkey"),
                explode(sequence(lit(1), lit(3))).as("r"))
              .select(col("o_orderkey").as("item"),
                pmod(pmod(col("o_orderkey"), lit(7)) +
                  col("r") * pmod(col("o_custkey"), lit(3)), lit(4))
                  .as("cat")),
            "item", "cat"),
        Some(FleissKappa.oracleSql(
          """SELECT o_orderkey AS item,
  ((o_orderkey % 7) + r * (o_custkey % 3)) % 4 AS cat
FROM orders, (SELECT unnest(generate_series(1, 3)) AS r)"""))),

      // McNemar paired-model comparison per priority: two deterministic
      // "classifiers" over the same orders, discordant-count statistic
      RegisteredQuery(
        "q_mcnemar",
        (s, dir) => McNemar.test(
            Tables.resolve(s, dir)("orders").select(
              col("o_orderpriority"),
              when(pmod(col("o_orderkey"), lit(7)) < 4, 1L).otherwise(0L)
                .as("ma"),
              when(pmod(col("o_orderkey"), lit(11)) < 6, 1L).otherwise(0L)
                .as("mb")),
            "o_orderpriority", "ma", "mb")
          .orderBy("o_orderpriority"),
        Some(McNemar.oracleSql(
          """SELECT o_orderpriority AS grp,
  CASE WHEN o_orderkey % 7 < 4 THEN 1 ELSE 0 END AS a,
  CASE WHEN o_orderkey % 11 < 6 THEN 1 ELSE 0 END AS b
FROM orders""",
          "o_orderpriority"))),

      // sliding-window RAG chunking: 50-token windows every 40 tokens
      // over the documents corpus — scan-stage, layout declared from the
      // text alone
      RegisteredQuery(
        "q_chunker",
        (s, dir) => graft.text.Chunker.chunks(
            Tables.resolve(s, dir)("documents"),
            "doc_id", "text", chunkLen = 50, overlap = 10)
          .orderBy("doc_id", "chunk_idx"),
        Some(graft.text.Chunker.oracleSql(
          "SELECT doc_id AS id, text FROM documents", "doc_id",
          chunkLen = 50, overlap = 10))),

      // frequency-of-frequencies per language — the tail-shape companion
      // of q_zipf_slope's head fit
      RegisteredQuery(
        "q_freq_of_freq",
        (s, dir) => graft.text.GoodTuring.freqOfFreq(
            Tables.resolve(s, dir)("documents").select(col("lang"),
              explode(graft.text.TextFunctions.tokens(col("text")))
                .as("term")),
            "lang", "term")
          .orderBy("lang", "freq"),
        Some(graft.text.GoodTuring.freqOfFreqOracle(
          """SELECT lang AS grp, unnest(string_split(text, ' ')) AS term
FROM documents""",
          "lang"))),

      // Good-Turing unseen mass per language: is the vocabulary still
      // discovering (p0 large) or converged (p0 ~ 0)
      RegisteredQuery(
        "q_good_turing",
        (s, dir) => graft.text.GoodTuring.unseenMass(
            Tables.resolve(s, dir)("documents").select(col("lang"),
              explode(graft.text.TextFunctions.tokens(col("text")))
                .as("term")),
            "lang", "term")
          .orderBy("lang"),
        Some(graft.text.GoodTuring.unseenMassOracle(
          """SELECT lang AS grp, unnest(string_split(text, ' ')) AS term
FROM documents""",
          "lang"))),

      // file-layout audit over a deterministic partitionBy write: one
      // file per region, counts = the group sizes (the small-files check)
      RegisteredQuery(
        "q_file_audit",
        (s, dir) => {
          val out = scratch("file_audit")
          Tables.resolve(s, dir)("nation").coalesce(1)
            .write.mode("overwrite").partitionBy("n_regionkey").parquet(out)
          graft.sources.FileAudit.summary(s.read.parquet(out))
        },
        Some("""SELECT CAST(count(*) AS BIGINT) AS n_files,
  CAST(sum(c) AS BIGINT) AS n_rows, CAST(min(c) AS BIGINT) AS min_rows,
  CAST(max(c) AS BIGINT) AS max_rows,
  CAST(sum(c) // count(*) AS BIGINT) AS avg_rows
FROM (SELECT count(*) AS c FROM nation GROUP BY n_regionkey)""")),

      // winsorized mean per returnflag at k=25 — the clamp sibling of
      // q_ktrim_mean's drop, same bounded BottomK buffers, no sort
      RegisteredQuery(
        "q_winsorized_mean",
        (s, dir) => TrimmedMean.winsorizedMean(
            Tables.resolve(s, dir)("lineitem").select(col("l_returnflag"),
              cents("l_extendedprice").as("cents")),
            "l_returnflag", "cents", k = 25)
          .orderBy("l_returnflag"),
        Some(TrimmedMean.winsorizedOracleSql(
          s"""SELECT l_returnflag AS grp,
  ${centsSql("l_extendedprice")} AS v
FROM lineitem""",
          "l_returnflag", k = 25))),

      // Holm step-down FWER control over the same planted p-value fleet
      // as q_fdr_bh — the launch-gate sibling (any false positive fatal)
      RegisteredQuery(
        "q_holm",
        (s, dir) => Fdr.holmDecisions(
            Tables.resolve(s, dir)("documents")
              .withColumn("p_raw",
                expr("(doc_id * 2654435761L) % 1000001"))
              .withColumn("p", expr(
                "CASE WHEN doc_id % 10 = 0 THEN p_raw div 9973 ELSE p_raw END")),
            "lang", "doc_id", "p", alphaNum = 1, alphaDen = 20)
          .orderBy("lang", "rk"),
        Some(Fdr.holmOracleSql(
          """SELECT lang AS grp, doc_id AS id,
  CASE WHEN doc_id % 10 = 0
       THEN ((doc_id * 2654435761) % 1000001) // 9973
       ELSE (doc_id * 2654435761) % 1000001 END AS p
FROM documents""",
          "lang", "doc_id", alphaNum = 1, alphaDen = 20))),

      // Cochran's Q omnibus across three deterministic "models" per
      // priority — the k-way McNemar (q_mcnemar drills into pairs)
      RegisteredQuery(
        "q_cochran_q",
        (s, dir) => CochranQ.test(
            Tables.resolve(s, dir)("orders")
              .select(col("o_orderpriority"), col("o_orderkey"),
                explode(sequence(lit(1), lit(3))).as("m"))
              .select(col("o_orderpriority"), col("o_orderkey").as("item"),
                concat(lit("m"), col("m")).as("model"),
                when(pmod(col("o_orderkey") + col("m") * 3, lit(7)) < 4, 1L)
                  .otherwise(0L).as("x")),
            "o_orderpriority", "item", "model", "x")
          .orderBy("o_orderpriority"),
        Some(CochranQ.oracleSql(
          """SELECT o_orderpriority AS grp, o_orderkey AS item,
  'm' || m AS treat,
  CASE WHEN (o_orderkey + m * 3) % 7 < 4 THEN 1 ELSE 0 END AS x
FROM orders, (SELECT unnest(generate_series(1, 3)) AS m)""",
          "o_orderpriority"))),

      // SLO error-budget burn per synthetic service and hour: error
      // events against a 99/100 availability promise
      RegisteredQuery(
        "q_slo_burn",
        (s, dir) => SloBurn.burnRate(
            Tables.resolve(s, dir)("events").select(
              concat(lit("svc"), pmod(col("user_id"), lit(4))).as("svc"),
              expr("timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)")
                .as("hr"),
              when(col("event_type") === "error", 0L).otherwise(1L).as("ok")),
            "svc", "hr", "ok", sloNum = 99, sloDen = 100)
          .orderBy("svc", "bucket"),
        Some(SloBurn.oracleSql(
          """SELECT 'svc' || (user_id % 4) AS k,
  date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS bucket,
  CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS ok
FROM events""",
          "svc", sloNum = 99, sloDen = 100))),

      // the 6-hour trailing-window burn (the multiwindow alert's slow
      // member) — range frame, calendar gaps shorten the window
      RegisteredQuery(
        "q_slo_burn_rolling",
        (s, dir) => SloBurn.burnRolling(
            Tables.resolve(s, dir)("events").select(
              concat(lit("svc"), pmod(col("user_id"), lit(4))).as("svc"),
              expr("timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)")
                .as("hr"),
              when(col("event_type") === "error", 0L).otherwise(1L).as("ok")),
            "svc", "hr", "ok", sloNum = 99, sloDen = 100, windowBuckets = 6)
          .orderBy("svc", "bucket"),
        Some(SloBurn.rollingOracleSql(
          """SELECT 'svc' || (user_id % 4) AS k,
  date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS bucket,
  CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS ok
FROM events""",
          "svc", sloNum = 99, sloDen = 100, windowBuckets = 6))),

      // signed squared Matthews correlation per priority — the
      // imbalanced-data eval beside q_mcnemar's paired comparison
      RegisteredQuery(
        "q_mcc",
        (s, dir) => ModelEval.mccSigned(
            Tables.resolve(s, dir)("orders").select(
              col("o_orderpriority"),
              when(pmod(col("o_orderkey"), lit(9)) < 2, 1L).otherwise(0L)
                .as("y"),
              when(pmod(col("o_orderkey"), lit(9)) +
                pmod(col("o_custkey"), lit(3)) < 3, 1L).otherwise(0L)
                .as("p")),
            "o_orderpriority", "y", "p")
          .orderBy("o_orderpriority"),
        Some(ModelEval.mccOracleSql(
          """SELECT o_orderpriority AS grp,
  CASE WHEN o_orderkey % 9 < 2 THEN 1 ELSE 0 END AS y,
  CASE WHEN (o_orderkey % 9) + (o_custkey % 3) < 3 THEN 1 ELSE 0 END AS p
FROM orders""",
          "o_orderpriority"))))
  }

  /** q_corpus_mix per-mille domain weights — a fixed mixing recipe over
    * the synthetic languages; `es` deliberately unweighted (excluded).
    */
  private def MixWeights: Map[String, Long] =
    Map("en" -> 500L, "fr" -> 200L, "de" -> 200L, "zh" -> 100L)

  /** q_psi_drift cut points: fixed cents boundaries spanning the synthetic
    * order-price range — the frozen train-time binning drift is measured
    * against.
    */
  private def PsiCuts: Seq[Long] =
    Seq(5000000L, 10000000L, 15000000L, 20000000L, 25000000L,
      30000000L, 35000000L, 40000000L)

  /** q_pii_* input: the synthetic corpus with deterministic doc_id-derived
    * identifiers appended (emails always; an IPv4 every 3rd doc, a phone
    * every 5th, an SSN-shaped id every 11th) — built IDENTICALLY on the
    * Spark side ([[piiInjected]]) and in the oracle ([[PiiTextSql]]), so
    * the gate exercises real pattern density instead of an all-zero scan.
    */
  private def piiInjected(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val idS = col("doc_id").cast("string")
    val pad4 = lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")
    d.withColumn("text", concat_ws(" ", col("text"),
      concat(lit("u"), idS, lit("@ex"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".org")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit("10.0."), pmod(col("doc_id"), lit(200)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(250)).cast("string"))),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("+1-555-"), pad4)),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit("123-45-"), pad4))))
  }

  /** q_boilerplate_* input: the one-line synthetic text broken into
    * 8-word lines, plus a per-source boilerplate footer (present in EVERY
    * doc of the source — the removable line) and a unique per-doc
    * reference line (never removable) — built identically on the Spark
    * side and in [[LinedTextSql]].
    */
  private def linedDocs(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val words = split(col("text"), " ")
    val nb = floor((size(words).cast("double") + 7) / 8).cast("int")
    val lines = transform(sequence(lit(0), nb - 1),
      i => array_join(slice(words, i * 8 + 1, lit(8)), " "))
    // NULL text stays NULL (concat_ws would SKIP the null and fabricate a
    // footer-only doc while the oracle's ||-chain nulls out and drops it)
    d.withColumn("text", when(col("text").isNotNull, concat_ws("\n",
      array_join(lines, "\n"),
      concat(lit("(c) "), col("source"), lit(" all rights reserved")),
      concat(lit("ref "), col("doc_id").cast("string")))))
  }

  /** The oracle-side replica of [[linedDocs]]'s text expression. */
  private def LinedTextSql: String =
    "array_to_string(list_transform(range((len(string_split(text, ' ')) + 7) // 8), " +
      "i -> array_to_string((string_split(text, ' '))[i*8+1 : i*8+8], ' ')), chr(10))" +
      " || chr(10) || '(c) ' || source || ' all rights reserved'" +
      " || chr(10) || 'ref ' || doc_id"

  /** The oracle-side replica of [[piiInjected]]'s text expression. */
  private def PiiTextSql: String =
    "concat_ws(' ', text, 'u' || doc_id || '@ex' || (doc_id % 7) || '.org', " +
      "CASE WHEN doc_id % 3 = 0 THEN '10.0.' || (doc_id % 200) || '.' || (doc_id % 250) END, " +
      "CASE WHEN doc_id % 5 = 0 THEN '+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END, " +
      "CASE WHEN doc_id % 11 = 0 THEN '123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END)"

  /** q_linear_score weights: a deterministic Fibonacci-hash spread in
    * [−500, 500] — stands in for a trained, milli-unit-quantized model.
    */
  private def GateWeights: Array[Long] =
    Array.tabulate(64)(b => ((b * 2654435761L) % 1001L) - 500L)

  def all: Seq[RegisteredQuery] = {
    val qs = relational ++ rowOps ++ sourceOps ++ llmOps ++ corpusOps ++ scaleOps ++ featureOps
    // SparkEntry builds a Map from this list, where a duplicate name
    // SILENTLY shadows an earlier gate (two collisions shipped unnoticed
    // before r8 caught them) — fail loudly instead
    val dups = qs.groupBy(_.name).filter(_._2.length > 1).keys
    require(dups.isEmpty, s"duplicate gate name(s): ${dups.mkString(", ")} — " +
      "the queries Map would silently drop one of each pair")
    qs
  }
}
