package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** `analyst_sql`: one closed-loop client sending parameterized SQL
  * templates through `Lake.query(sql).collect()` plus the facade's
  * preview/meta/audit/report calls over seeded TPC-H-shaped fixtures.
  * Every round runs each template once in a seeded order and a run
  * measures whole rounds, so the template mix is the same in every
  * run; only literals and order vary.
  * Results are written for the DuckDB twin check done after the run.
  */
final class AnalystSql extends Workload {
  val nOrders = 6000
  private var fixtures: Gen.Fixtures = _
  private var rng: SplittableRandom = _
  private val firstResult = mutable.HashMap.empty[String, Seq[Seq[Any]]]
  private var results: java.io.PrintWriter = _
  private var repeats = 0L
  private var queries = 0L
  private var rounds = 0

  /** A template instance: Spark SQL, the DuckDB twin and the relative
    * tolerance of its numeric columns (0 = exact up to float printing).
    */
  final case class Q(sql: String, duck: String, tol: Double = 1e-9)

  private def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))

  private val sqlTemplates: Seq[(String, () => Q)] = Seq(
    "pricing_summary" -> (() => {
      val d = pick(Seq("1998-08-01", "1998-09-01", "1998-10-01", "1998-12-01"))
      val s = s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
        |SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_price
        |FROM lineitem WHERE l_shipdate <= DATE '$d'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
      Q(s, s)
    }),
    "shipping_priority" -> (() => {
      val seg = pick(Gen.segments.toSeq)
      val d = pick(Seq("1995-03-01", "1995-03-15", "1995-04-01"))
      val s = s"""SELECT l_orderkey,
        |SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = '$seg' AND o_orderdate < DATE '$d'
        |  AND l_shipdate > DATE '$d'
        |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
      Q(s, s)
    }),
    "nation_revenue" -> (() => {
      val r = rng.nextInt(5)
      val y = 1992 + rng.nextInt(6)
      val s = s"""SELECT n_name, COUNT(*) AS n,
        |SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'REGION$r' AND year(o_orderdate) = $y
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
      Q(s, s)
    }),
    "running_window" -> (() => {
      val lo = 1 + nOrders / 100 * rng.nextInt(10)
      val s = s"""SELECT o_custkey, o_orderkey,
        |SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running,
        |ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |FROM orders WHERE o_custkey BETWEEN $lo AND ${lo + 49}
        |ORDER BY o_custkey, o_orderkey""".stripMargin
      Q(s, s)
    }),
    "topk_per_group" -> (() => {
      val seg = pick(Gen.segments.toSeq)
      val k = pick(Seq(3, 5))
      val s = s"""SELECT c_nationkey, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal, ROW_NUMBER() OVER (
        |    PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer WHERE c_mktsegment = '$seg') t
        |WHERE rn <= $k ORDER BY c_nationkey, c_acctbal DESC, c_custkey""".stripMargin
      Q(s, s)
    }),
    "vec_dot" -> (() => {
      val q = rng.nextInt(50)
      def s(f: String) = s"""SELECT e.vec_id, $f(e.embedding, q.embedding) AS score
        |FROM embeddings e CROSS JOIN (SELECT embedding FROM embeddings
        |  WHERE vec_id = $q) q
        |ORDER BY score DESC, e.vec_id LIMIT 10""".stripMargin
      Q(s("vec_dot"), s("list_dot_product"), 1e-4)
    }),
    "word_shingles" -> (() => {
      val m = pick(Seq(7, 11, 13))
      val r = rng.nextInt(m)
      Q(s"""SELECT doc_id, size(word_shingles(text, 2)) AS n_shingles
        |FROM documents WHERE doc_id % $m = $r ORDER BY doc_id""".stripMargin,
        s"""SELECT doc_id, len(list_distinct(list_transform(
        |  range(1, len(string_split(text, ' '))),
        |  i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])))
        |  AS n_shingles
        |FROM documents WHERE doc_id % $m = $r ORDER BY doc_id""".stripMargin)
    }),
    "approx_distinct" -> (() => {
      val y = 1992 + rng.nextInt(6)
      def s(f: String) = s"""SELECT o_orderpriority, $f AS users FROM orders
        |WHERE year(o_orderdate) = $y GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin
      // HyperLogLog++ at its default 5% relative standard deviation:
      // accept three standard deviations
      Q(s("approx_count_distinct(o_custkey)"), s("COUNT(DISTINCT o_custkey)"), 0.15)
    }),
    "events_by_type" -> (() => {
      val d = 1 + rng.nextInt(20)
      val s = f"""SELECT event_type, COUNT(*) AS n,
        |SUM(CAST(value AS DECIMAL(18,2))) AS total FROM events
        |WHERE ts >= TIMESTAMP '2024-01-$d%02d 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-${d + 7}%02d 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin
      Q(s, s)
    }),
    "discount_revenue" -> (() => {
      val y = 1993 + rng.nextInt(4)
      val d = pick(Seq(2, 4, 6, 8))
      val s = s"""SELECT COUNT(*) AS n,
        |SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)))
        |  AS revenue
        |FROM lineitem WHERE l_shipdate >= DATE '$y-01-01'
        |  AND l_shipdate < DATE '${y + 1}-01-01'
        |  AND l_discount BETWEEN 0.0${d - 1} AND 0.0${d + 1} AND l_quantity < 24""".stripMargin
      Q(s, s)
    })
  )

  private val facadeTemplates = Seq("facade_preview", "facade_meta",
    "facade_audit", "facade_report")

  private val templates: Seq[String] = sqlTemplates.map(_._1) ++ facadeTemplates

  def primaryOp: String = "query"

  def traffic: Map[String, Any] = Map(
    "orders_rows" -> nOrders, "templates" -> templates,
    "mix" -> s"each template once per round, seeded order, $roundsPerStep rounds a step",
    "rounds" -> rounds, "queries" -> queries,
    "repeat_share" -> (if (queries > 0) repeats.toDouble / queries else 0.0))

  def setup(ctx: Ctx): Unit = {
    rng = Gen.rng(ctx.seed, 101)
    fixtures = Gen.fixtures(ctx.seed, nOrders)
    ctx.mark("generate")
    val dir = s"${ctx.root}/fixtures"
    fixtures.writeAll(ctx.spark, dir, ctx.cores)
    ctx.mark("land")
    ctx.lake.attachFixtures(dir)
    ctx.lake.saveDataset(ctx.lake.query("SELECT * FROM orders WHERE o_orderkey % 7 = 0"),
      "orders_wh")
    results = new java.io.PrintWriter(s"${ctx.root}/analyst_results.jsonl", "UTF-8")
    results.println(Json.write(Map("fixtures" -> dir)))
    ctx.mark("attach")
    // warm-up, checks enforced: every template once concurrently (the
    // plans compile), then one sequential round (the JIT settles)
    val warm = shuffled().map(t => instance(ctx, t))
    Par.all(ctx.cores, warm.map(in => () => run(ctx, in)))
    shuffled().foreach(t => run(ctx, instance(ctx, t)))
    ctx.mark("warm")
  }

  /** Rounds per step. A run measures whole steps, so each template runs
    * equally often in every run; four rounds fill the window (a round
    * takes ~3.5 s at 4 cores).
    */
  val roundsPerStep = 4

  /** Rounds of every template, each round in a seeded order. */
  def step(ctx: Ctx, i: Int): Unit = (1 to roundsPerStep).foreach { _ =>
    shuffled().foreach(t => run(ctx, instance(ctx, t)))
    rounds += 1
  }

  private def shuffled(): Seq[String] = {
    val order = templates.toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    order.toSeq
  }

  private def canon(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString.toDouble
    case t: java.sql.Timestamp => t.toString.take(19)
    case s: scala.collection.Seq[_] => s.map(canon)
    case f: Float => f.toDouble
    case other => other
  }

  /** One call: the facade frame to build, its result check, and for
    * SQL templates the statement (the repeat-share key).
    */
  private final case class Inst(construct: () => DataFrame,
      check: Array[Row] => Option[String], sql: Option[String])

  private def run(ctx: Ctx, in: Inst): Unit = {
    ctx.rec.op("query") {
      val df = ctx.span("construct")(in.construct())
      ctx.span("action")(df.collect())
    }(in.check)
    in.sql.foreach { s =>
      val repeat = seenSql.synchronized(!seenSql.add(s))
      if (ctx.rec.measuring && repeat) repeats += 1
    }
    if (ctx.rec.measuring) queries += 1
  }

  private val seenSql = mutable.HashSet.empty[String]

  private lazy val whRows: Seq[Row] =
    fixtures.rows("orders").filter(_.getLong(0) % 7 == 0)

  /** Draws the template's literals (in the caller's thread, so the
    * sequence is seeded) and returns the call to make.
    */
  private def instance(ctx: Ctx, t: String): Inst = {
    val lake = ctx.lake
    sqlTemplates.find(_._1 == t) match {
      case Some((_, mk)) =>
        val q = mk()
        Inst(() => lake.query(q.sql), { rows =>
          val vals = rows.toSeq.map(r => r.toSeq.map(canon))
          if (vals.isEmpty) Some(s"$t returned no rows")
          else firstResult.synchronized(firstResult.get(q.sql) match {
            case Some(prev) if prev != vals => Some(s"$t repeat differs from its first result")
            case Some(_) => None
            case None =>
              firstResult(q.sql) = vals
              results.println(Json.write(Map("template" -> t, "sql" -> q.sql,
                "duck" -> q.duck, "tol" -> q.tol, "rows" -> vals)))
              None
          })
        }, Some(q.sql))
      case None => facade(lake, t)
    }
  }

  private def facade(lake: graft.Lake, t: String): Inst = t match {
    case "facade_preview" =>
      val n = 5 + rng.nextInt(3) * 5
      Inst(() => lake.preview("orders_wh", n), { rows =>
        val want = whRows.map(_.getLong(0)).sorted.take(n)
        val got = rows.toSeq.map(_.getLong(0))
        if (got == want) None else Some(s"preview keys $got, expected $want")
      }, None)
    case "facade_meta" =>
      Inst(() => lake.meta("orders_wh"), { rows =>
        val got = rows.map(_.getString(0)).toSeq
        val want = Gen.ordersSchema.fieldNames.toSeq
        if (got == want) None else Some(s"meta columns $got, expected $want")
      }, None)
    case "facade_audit" =>
      Inst(() => lake.audit("orders_wh", Seq("o_orderkey"), Seq(("o_totalprice", 0.0, 1e9))),
        { rows =>
          val bad = rows.filter(_.getAs[Int]("pass") != 1)
          if (bad.isEmpty) None else Some(s"audit failures ${bad.toSeq}")
        }, None)
    case "facade_report" =>
      Inst(() => lake.report("orders", Seq("o_orderstatus")), { rows =>
        val all = rows.find(_.getAs[String]("level") == "all")
        val want = fixtures.rows("orders").length.toLong
        all.map(_.getAs[Long]("n_rows")) match {
          case Some(n) if n == want => None
          case other => Some(s"report total $other, expected $want")
        }
      }, None)
  }

  def finish(ctx: Ctx): Map[String, (Double, String)] = {
    results.close()
    Map("repeat_share" -> ((if (queries > 0) repeats.toDouble / queries else 0.0), "ratio"))
  }
}
