package citybench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.QueryLayer
import graft.sources.Sinks

/** The user-facing point query as a serving loop: one client, one point per
  * request, no think time. A request snaps its point to the nearest node,
  * then runs the reach lookup (1000 m) against the reach table read through
  * JDBC from the store written during set-up, and collects the answer.
  * Points are never repeated. */
final class Lookup(spark: SparkSession, seed: Long, sizes: Gen.Sizes) extends Workload {
  import Lookup._
  type Out = Answer

  val url = "jdbc:derby:memory:citybench_lookup;create=true"
  private var tables: CityTables = _
  private var reference: Map[Long, Seq[Hit]] = Map.empty
  private var referenceNode: Map[Long, Int] = Map.empty
  private val WarmupRequests = 3

  def prepare(tr: Trace): Unit = {
    release()
    val city = Gen.city(seed, sizes)
    Main.log(s"inputs sha256=${Gen.hashCity(city)}")
    Gen.describeCity(city).foreach { case (k, v) => Main.log(s"input $k=$v") }
    tables = new CityTables(spark, city)
  }

  /** Build and store the reach, answer every lookup point with one batched
    * query (the reference), then serve a few requests. */
  def warmup(tr: Trace): Unit = {
    Precompute.chain(spark, tables, tr, url).held.release()
    import spark.implicits._
    val pts = tables.city.lookups.toSeq.map(p => (p.id, p.lon, p.lat)).toDF("query_id", "lon", "lat")
    val snapped = QueryLayer.snapPoints(pts, tables.nodes).cache()
    referenceNode = snapped.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    reference = QueryLayer.pointQuery(snapped, Sinks.readJdbc(spark, url, "reach"), Precompute.LimitM)
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> canon(rs.toSeq) }
    snapped.unpersist()
    val n = tables.city.lookups.length
    (1 to WarmupRequests).foreach(k => request(tables.city.lookups(n - k), tr))
  }

  def op(i: Int, tr: Trace): Answer = {
    val pts = tables.city.lookups
    require(i < pts.length - WarmupRequests, s"lookup points exhausted at request $i")
    request(pts(i), tr)
  }

  private def request(p: Gen.Point, tr: Trace): Answer = {
    val pt = spark.createDataFrame(Seq((p.id, p.lon, p.lat))).toDF("query_id", "lon", "lat")
    val snapped = tr.span("QueryLayer.snapPoints") {
      QueryLayer.snapPoints(pt, tables.nodes).collect()
    }
    tr.count("QueryLayer.snapPoints.miss_frac", if (snapped.exists(_.getInt(1) < 0)) 1.0 else 0.0)
    val snappedDf = spark.createDataFrame(snapped.toSeq.asJava, SnapSchema)
    val reach = tr.span("Sinks.readJdbc")(Sinks.readJdbc(spark, url, "reach"))
    val rows = tr.span("QueryLayer.pointQuery") {
      QueryLayer.pointQuery(snappedDf, reach, Precompute.LimitM).collect()
    }
    Answer(p, snapped.map(r => r.getInt(1)).headOption.getOrElse(Int.MinValue), canon(rows.toSeq))
  }

  def verify(i: Int, a: Answer): Seq[String] =
    Lookup.check(a, reference.getOrElse(a.point.id, Nil), referenceNode.get(a.point.id),
      if (i % 10 == 0) Some(bruteForceSnap(tables.city.nodes, a.point)) else None)

  def finalChecks(): Seq[String] = Nil

  def nodes: Array[Gen.Node] = tables.city.nodes

  def release(): Unit = if (tables != null) tables.held.release()
}

object Lookup {
  /** One in-radius row of an answer: (category, dist_m, time_s, poi_id). */
  type Hit = (String, Double, Double, Long)
  final case class Answer(point: Gen.Point, node: Int, hits: Seq[Hit])

  val SnapSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "query_id BIGINT, node_idx INT, snap_dist_m DOUBLE")

  def canon(rows: Seq[Row]): Seq[Hit] =
    rows.map(r => (r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).sorted

  /** A response must equal the batched reference for its point, and the
    * snapped node must match the driver-side brute-force snap when given. */
  def check(a: Answer, ref: Seq[Hit], refNode: Option[Int], brute: Option[Int]): Seq[String] = {
    val q = a.point.id
    (if (a.hits != ref) Seq(s"lookup $q: ${a.hits.length} rows differ from the batched reference (${ref.length} rows)") else Nil) ++
      (if (!refNode.contains(a.node)) Seq(s"lookup $q: snapped node ${a.node} != batched ${refNode.getOrElse("none")}") else Nil) ++
      brute.filter(_ != a.node).map(b => s"lookup $q: snapped node ${a.node} != brute-force $b").toSeq
  }

  /** Nearest node by the engine's equirectangular pre-rank (ties to the
    * lower index), -1 beyond 300 m haversine. */
  def bruteForceSnap(nodes: Array[Gen.Node], p: Gen.Point, maxSnapM: Double = 300.0): Int = {
    val qLon = math.toRadians(p.lon); val qLat = math.toRadians(p.lat)
    var best = -1; var bestD = Double.PositiveInfinity
    nodes.foreach { n =>
      val x = (math.toRadians(n.lon) - qLon) * math.cos(qLat)
      val y = math.toRadians(n.lat) - qLat
      val d = x * x + y * y
      if (d < bestD || (d == bestD && n.idx < best)) { bestD = d; best = n.idx }
    }
    val n = nodes(best)
    val a = math.pow(math.sin((math.toRadians(n.lat) - qLat) / 2), 2) +
      math.cos(qLat) * math.cos(math.toRadians(n.lat)) *
        math.pow(math.sin((math.toRadians(n.lon) - qLon) / 2), 2)
    val dist = 2 * graft.functions.GeoFunctions.R_QUERY_M * math.asin(math.sqrt(a))
    if (dist > maxSnapM) -1 else best
  }
}
