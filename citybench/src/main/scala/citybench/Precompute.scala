package citybench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Sinks

/** The city's inputs as materialized engine tables. */
final class CityTables(spark: SparkSession, val city: Gen.City) {
  import spark.implicits._
  val held = new Held
  val (elements, _) = held.force(city.elements.toSeq
    .map(e => (e.id, e.key, e.value, e.name, e.lon, e.lat))
    .toDF("elem_id", "key", "value", "name", "lon", "lat"))
  val (nodes, nNodes) = held.force(city.nodes.toSeq
    .map(n => (n.idx, n.osmId, n.lon, n.lat)).toDF("node_idx", "osm_node_id", "lon", "lat"))
  val (ways, nEdges) = held.force(city.edges.toSeq
    .map(e => (e.wayId, e.u, e.v, e.w, e.highway, e.foot, e.sidewalk))
    .toDF("way_id", "u", "v", "w", "highway", "foot", "sidewalk"))
  val (addresses, _) = held.force(city.addresses.toSeq
    .map(p => (p.id, p.lon, p.lat)).toDF("query_id", "lon", "lat"))
}

/** The paper's batch precompute, composed from the engine's public
  * operators in the order `graft.Pipeline` uses them: POI extract → snap →
  * walkable graph → buffered tiling → tiled reach + owner dedup → summary →
  * JDBC, then a batched backfill query over the stored reach. Each layer's
  * output is materialized and counted inside its span. */
object Precompute {
  val LimitM = 1000.0
  val ReachCols = Seq("tile", "category", "node_idx", "dist_m", "time_s", "poi_id")

  final case class Out(counts: mutable.LinkedHashMap[String, Long], reach: DataFrame,
                       snapped: DataFrame, sym: DataFrame, held: Held)

  def chain(spark: SparkSession, t: CityTables, tr: Trace, url: String): Out = {
    import spark.implicits._
    val h = new Held
    val counts = mutable.LinkedHashMap.empty[String, Long]

    val pois = tr.span("PoiExtract.extractJoin") {
      val (df, n) = h.force(PoiExtract.extractJoin(PoiExtract.tagPreFilter(t.elements)))
      counts("pois") = n; df
    }
    val snapped = tr.span("SnapJoin.nearestNode") {
      val (all, n) = h.force(SnapJoin.nearestNode(
        pois.select(col("elem_id").as("poi_id"), col("lon"), col("lat")), t.nodes, "poi_id"))
      val (hit, nHit) = h.force(all.filter(col("node_idx") >= 0)
        .join(pois.select(col("elem_id").as("poi_id"), col("category")), Seq("poi_id")))
      tr.count("SnapJoin.nearestNode.hit_frac", nHit.toDouble / n)
      counts("poi_snap") = nHit; hit
    }
    val walkable = tr.span("GraphOps.cleanWalkableEdges") {
      val (df, n) = h.force(GraphOps.cleanWalkableEdges(t.ways))
      tr.count("GraphOps.cleanWalkableEdges.keep_frac", n.toDouble / t.nEdges)
      counts("walkable_edges") = n; df
    }
    val sym = tr.span("GraphOps.symmetrizeDedup") {
      val (df, n) = h.force(GraphOps.symmetrizeDedup(walkable.select("u", "v", "w")))
      counts("graph_edges") = n; df
    }
    // 3 km tiles with a 2 km buffer (≥ 2× the 1000 m limit) over the node bbox
    val (lattice, edgesT, srcsT) = tr.span("Grid.assignBuffered") {
      val Row(minLon: Double, maxLon: Double, minLat: Double, maxLat: Double) =
        t.nodes.agg(min("lon"), max("lon"), min("lat"), max("lat")).head()
      val l = Grid.Lattice(minLon, minLat, maxLon, maxLat, tileKm = 3.0, bufferKm = 2.0)
      val (nodeTiles, nRep) = h.force(Grid.assignBuffered(t.nodes, l)
        .select(col("node_idx"), col("grid_id")))
      tr.count("Grid.replication", nRep.toDouble / t.nNodes)
      val (e, nE) = h.force(sym
        .join(nodeTiles.withColumnRenamed("node_idx", "u"), Seq("u"))
        .join(nodeTiles.withColumnRenamed("node_idx", "v"), Seq("v", "grid_id"))
        .select(col("grid_id").as("tile"), col("u"), col("v"), col("w")))
      val (s, _) = h.force(snapped.join(nodeTiles, Seq("node_idx"))
        .select(col("grid_id").as("tile"), col("category"), col("node_idx"), col("poi_id")))
      counts("tile_edges") = nE
      (l, e, s)
    }
    val owner = tr.span("Grid.assignOwner") {
      val (df, n) = h.force(Grid.assignOwner(t.nodes, lattice)
        .select(col("node_idx"), col("grid_id").as("tile")))
      counts("owner_rows") = n; df
    }
    val reach = tr.span("Dijkstra.reach") {
      val (raw, nRaw) = h.force(
        Dijkstra.reach(edgesT.as[TileEdge], srcsT.as[TileSource], limitM = LimitM).toDF())
      val (owned, n) = h.force(raw.join(owner, Seq("tile", "node_idx")).select(ReachCols.map(col): _*))
      tr.count("Dijkstra.reach.owned_frac", n.toDouble / nRaw)
      tr.count("Dijkstra.reach.rows_out", n.toDouble)
      counts("reach") = n
      counts("reach_tiles") = owned.select("tile").distinct().count()
      owned
    }
    val summary = tr.span("Dijkstra.reachSummary") {
      val (df, n) = h.force(Dijkstra.reachSummary(
        reach, snapped.select("category", "poi_id"), limitM = LimitM))
      counts("reach_summary") = n; df
    }
    tr.span("Sinks.writeJdbc") {
      val t0 = System.nanoTime()
      Sinks.writeJdbc(reach, url, "reach")
      Sinks.writeJdbc(summary, url, "reach_summary")
      tr.count("Sinks.writeJdbc.rows_per_s",
        (counts("reach") + counts("reach_summary")) / ((System.nanoTime() - t0) / 1e9))
    }
    // batched backfill: one address per ~10 nodes against the stored reach
    val stored = tr.span("Sinks.readJdbc") {
      val (df, n) = h.force(Sinks.readJdbc(spark, url, "reach"))
      counts("jdbc_read") = n; df
    }
    val snappedAddr = tr.span("QueryLayer.snapPoints") {
      val (df, _) = h.force(QueryLayer.snapPoints(t.addresses, t.nodes))
      df
    }
    tr.span("QueryLayer.pointQuery") {
      val (_, n) = h.force(QueryLayer.pointQuery(snappedAddr, stored, radiusM = LimitM))
      counts("backfill_rows") = n
    }
    Out(counts, reach, snapped, sym, h)
  }

  /** Order-independent content hash of a frame: (rows, sum of 31-bit row
    * hashes, xor of 64-bit row hashes). */
  def contentHash(df: DataFrame): (Long, Long, Long) = {
    val hcol = xxhash64(df.columns.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(pmod(hcol, lit(Int.MaxValue.toLong))), bit_xor(hcol)).head()
    (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L),
      Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Stage counts: every stage non-empty and the lattice really tiled. */
  def checkCounts(c: collection.Map[String, Long]): Seq[String] =
    c.collect { case (k, n) if n <= 0 => s"stage $k is empty" }.toSeq ++
      (if (c.getOrElse("reach_tiles", 0L) < 2) Seq("reach used fewer than 2 tiles") else Nil) ++
      (if (c.get("jdbc_read") != c.get("reach")) Seq(s"JDBC read-back count ${c.get("jdbc_read")} != reach ${c.get("reach")}") else Nil)

  /** The tiled, owner-deduped reach must equal one global single-tile run. */
  def checkTiling(spark: SparkSession, reach: DataFrame, sym: DataFrame, snapped: DataFrame): Seq[String] = {
    import spark.implicits._
    val global = Dijkstra.reach(
      sym.select(lit("t0").as("tile"), col("u"), col("v"), col("w")).as[TileEdge],
      snapped.select(lit("t0").as("tile"), col("category"), col("node_idx"), col("poi_id")).as[TileSource],
      limitM = LimitM).toDF()
    val cols = Seq("category", "node_idx", "dist_m", "time_s", "poi_id").map(col)
    val a = reach.select(cols: _*); val b = global.select(cols: _*)
    val diff = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    if (diff == 0) Nil else Seq(s"tiled reach differs from the global reach in $diff rows")
  }

  /** The stored table must equal the reach that was written. */
  def checkStored(written: DataFrame, stored: DataFrame): Seq[String] = {
    val (a, b) = (contentHash(written.select(ReachCols.map(col): _*)),
      contentHash(stored.select(ReachCols.map(col): _*)))
    if (a == b) Nil else Seq(s"JDBC read-back $b differs from the written reach $a")
  }
}

final class Precompute(spark: SparkSession, seed: Long, sizes: Gen.Sizes) extends Workload {
  type Out = Precompute.Out
  val url = "jdbc:derby:memory:citybench_precompute;create=true"
  private var tables: CityTables = _
  private var first: Option[Out] = None

  def prepare(tr: Trace): Unit = {
    release()
    val city = Gen.city(seed, sizes)
    Main.log(s"inputs sha256=${Gen.hashCity(city)}")
    Gen.describeCity(city).foreach { case (k, v) => Main.log(s"input $k=$v") }
    tables = new CityTables(spark, city)
  }

  def warmup(tr: Trace): Unit = Precompute.chain(spark, tables, tr, url).held.release()

  def op(i: Int, tr: Trace): Out = Precompute.chain(spark, tables, tr, url)

  def verify(i: Int, out: Out): Seq[String] = {
    Main.log(s"op $i stages: ${out.counts.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    val same = first match {
      case Some(f) if f.counts != out.counts => Seq(s"op $i stage counts differ from op 0")
      case None => first = Some(out); Nil
      case _ => Nil
    }
    if (!first.exists(_ eq out)) out.held.release()
    Precompute.checkCounts(out.counts) ++ same
  }

  def finalChecks(): Seq[String] = first.toSeq.flatMap { o =>
    try Precompute.checkTiling(spark, o.reach, o.sym, o.snapped) ++
      Precompute.checkStored(o.reach, Sinks.readJdbc(spark, url, "reach"))
    finally o.held.release()
  }

  def release(): Unit = if (tables != null) tables.held.release()
}
