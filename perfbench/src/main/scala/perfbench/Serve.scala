package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheRegistry, Tables}
import graft.filters._
import graft.functions.GeoFunctions
import graft.operators._

/**
 * `serve`: a warm session answering a closed loop of small reference-parity
 * requests from one client. Each request is one entry of the plan's request
 * pool (drawn from the seed by the runner, which also holds their DuckDB
 * answers); the client walks the plan's seeded sequence of pool ids, in
 * rounds of one request of every kind, until the time is up and the round
 * is complete, and collects each result, one page at most.
 */
object Serve {

  final class State(val dir: String, val nested: DataFrame)

  /** A new session, the relations the requests read, and the nested
    * orders relation built and cached. */
  def setup(run: Run): State = {
    val spark = run.startSession()
    val dir = run.plan.get("dir").asText
    Seq("orders", "part", "customer", "embeddings").foreach(Tables(spark, dir, _))
    // the nested orders relation (one row per order, its lines as an array
    // of structs) is the reference's nested-slice shape; held in the
    // engine's cache like the engine's own nested fixture
    val nested = CacheRegistry.track(Tables(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))).as("items")))
    nested.count()
    new State(dir, nested)
  }

  private def requests(run: Run): Map[String, JsonNode] =
    run.plan.get("requests").elements.asScala.map(r => r.get("id").asText -> r).toMap

  def run(run: Run): Unit = {
    val st = run.setups(setup(run))
    val pool = requests(run)
    // warm: two rounds of every request kind, so the loop measures a warm
    // session; after one round the next is still about a fifth faster
    val byKind = pool.values.toSeq.groupBy(_.get("kind").asText).values.toSeq
    for (k <- 0 until 2; rs <- byKind) execute(run, st, rs(k))
    val seq = run.plan.get("sequence").elements.asScala.map(_.asText).toIndexedSeq
    val results = mutable.LinkedHashMap.empty[String, (Seq[String], Seq[Seq[AnyRef]])]
    val unstable = mutable.Set.empty[String]
    val round = run.plan.get("round").asInt
    run.startLoop()
    var i = 0
    // whole rounds, so every kind weighs the same in the median request,
    // and at least two: a traced run traces every other round
    while (i < seq.length && (run.timeLeft || i % round != 0 || i < 2 * round)) {
      val req = pool(seq(i))
      val traced = run.traceMode && (i / round) % 2 == 1
      run.op(req.get("kind").asText, traced, s"r${i / round}/${seq(i)}")(execute(run, st, req)).foreach {
        case (cols, rows) =>
          val cells = rows.toSeq.map(r => r.toSeq.map(Json.plain))
          results.get(seq(i)) match {
            case None => results(seq(i)) = (cols, cells)
            case Some((_, first)) => if (first.toSet != cells.toSet) unstable += seq(i)
          }
      }
      run.checkpoint()
      i += 1
    }
    run.phase("loop")
    run.checkpoint(force = true)
    run.record("results") = results.map { case (id, (cols, rows)) =>
      id -> Map("cols" -> cols, "rows" -> rows, "stable" -> !unstable(id))
    }
    run.record("release_ms") = {
      val t0 = System.nanoTime(); CacheRegistry.releaseAll(); (System.nanoTime() - t0) / 1e6
    }
  }

  /** One request, as a caller would issue it: look the relation up, compile
    * the filter, call the operator, collect the rows. */
  def execute(run: Run, st: State, r: JsonNode): (Seq[String], Array[Row]) = {
    val spark = run.spark
    val tr = run.trace
    def table(name: String) = tr.span("tables")(Tables(spark, st.dir, name))
    def compile(n: FilterNode, df: DataFrame) = tr.span("filters.compile")(FilterCompiler.compile(n, df))
    def op(module: String)(df: => DataFrame) = tr.span(s"operators.$module.construct")(df)
    def f(name: String) = FieldRef(name)
    def p(name: String) = r.get(name)
    val df: DataFrame = r.get("kind").asText match {
      case "filter_eq" =>
        val orders = table("orders")
        val q = IndexRead.IndexQuery(filter = Some(Cmp(f("o_custkey"), CmpOp.Equal, p("key").asLong)),
          keyCol = "o_orderkey")
        op("IndexRead")(IndexRead.run(orders, q))
      case "filter_in" =>
        val orders = table("orders")
        orders.filter(compile(In(f("o_custkey"), Json.longs(p("keys"))), orders))
      case "filter_range" =>
        val orders = table("orders")
        val lo = p("lo").asDouble
        orders.filter(compile(Group.and(
          Cmp(f("o_orderstatus"), CmpOp.Equal, p("status").asText),
          Cmp(f("o_totalprice"), CmpOp.GreaterThan, lo),
          Cmp(f("o_totalprice"), CmpOp.LessThanOrEqual, p("hi").asDouble)), orders))
      case "filter_or" =>
        val orders = table("orders")
        val ks = Json.longs(p("keys"))
        orders.filter(compile(Group.or(
          Cmp(f("o_custkey"), CmpOp.Equal, ks(0)),
          Cmp(f("o_custkey"), CmpOp.Equal, ks(1)),
          Group.and(Cmp(f("o_orderstatus"), CmpOp.Equal, "F"),
            Cmp(f("o_totalprice"), CmpOp.LessThan, p("below").asDouble))), orders))
      case "filter_string" =>
        val part = table("part")
        part.filter(compile(Group.and(
          Cmp(f("p_name"), CmpOp.Contains, p("contains").asText),
          Cmp(f("p_type"), CmpOp.StartsWith, p("starts").asText),
          Cmp(f("p_brand"), CmpOp.EndsWith, p("ends").asText)), part))
      case "index_page" =>
        val orders = table("orders")
        val q = IndexRead.IndexQuery(
          filter = Some(Cmp(f("o_orderstatus"), CmpOp.Equal, p("status").asText)),
          orderBy = Seq((p("axis").asText, if (p("desc").asBoolean) IndexRead.Desc else IndexRead.Asc)),
          from = p("offset").asInt, limit = Some(p("limit").asInt), keyCol = "o_orderkey")
        op("IndexRead")(IndexRead.run(orders, q))
      case "get_by_keys" =>
        val cust = table("customer")
        op("KeyProbe")(KeyProbe.semi(cust, "c_custkey", Json.longs(p("keys"))))
      case "keys_exist" =>
        val cust = table("customer")
        op("KeyProbe")(KeyProbe.presence(cust, "c_custkey", Json.longs(p("keys"))))
      case "upsert" =>
        val base = slice(table("customer"), p("lo").asLong, p("hi").asLong)
          .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
        val delta = spark.createDataFrame(
          p("delta").elements.asScala.map(d => Row(d.get(0).asLong, d.get(1).asDouble, d.get(2).asText)).toSeq.asJava,
          StructType(Seq(StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType),
            StructField("c_mktsegment", StringType))))
        op("Mutations")(Mutations.set(base, delta, "c_custkey"))
          .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"),
            col("c_mktsegment"), col("_status"))
      case "increment" =>
        val base = slice(table("customer"), p("lo").asLong, p("hi").asLong)
          .select(col("c_custkey"), col("c_acctbal"))
        op("Mutations")(Mutations.incrementWhere(base, "c_acctbal", lit(p("delta").asDouble),
            col("c_acctbal") < p("below").asDouble))
          .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"), col("_applied"))
      case "nested" =>
        val lo = p("lo").asLong
        val cmp = Cmp(f("l_quantity"), CmpOp.GreaterThanOrEqual, p("qty").asDouble)
        val quant = p("quant").asText match {
          case "any" => Quantifier.Any
          case "all" => Quantifier.All
          case "none" => Quantifier.None
          case _ => Quantifier.Count(CmpOp.GreaterThanOrEqual, p("n").asLong)
        }
        val rows = st.nested.filter(col("l_orderkey").between(lo, lo + p("span").asLong - 1))
        rows.filter(compile(NestedSliceWhere(FieldRef.Path(Seq("items")), quant, cmp), rows))
          .select(col("l_orderkey"))
      case "geo" =>
        val cust = table("customer")
        // the engine's synthetic coordinates over customer keys
        val geo = cust
          .withColumn("lat", (col("c_custkey") % 120) - 60 + lit(0.25))
          .withColumn("lon", ((col("c_custkey") * 7) % 360) - 180 + lit(0.25))
        val (lat, lon) = (p("lat").asDouble, p("lon").asDouble)
        geo.filter(compile(GeoWithin(FieldRef.Path(Seq("lat")), FieldRef.Path(Seq("lon")),
            lat, lon, p("km").asDouble), geo))
          .select(col("c_custkey"),
            round(GeoFunctions.haversineKm(col("lat"), col("lon"), lit(lat), lit(lon)), 3).as("dist_km"))
      case "vector_topk" =>
        val emb = table("embeddings")
        op("Similarity")(Similarity.bruteForceTopK(emb, "embedding", "vec_id",
          Json.floats(p("query")), p("k").asInt))
    }
    (df.columns.toSeq, run.collect(df))
  }

  private def slice(cust: DataFrame, lo: Long, hi: Long): DataFrame =
    cust.filter(col("c_custkey").between(lo, hi))
}
