package citybench

import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Everything here is plain driver-side Scala over
  * a `SplittableRandom`, so one seed gives byte-identical inputs on every
  * JVM; the engine only ever sees the finished rows.
  *
  * The city is a jittered street lattice in a local east/north metre frame
  * anchored at (Lon0, Lat0): column and row lines are spaced 40-80 m apart,
  * every node is nudged by a few metres, and park/water holes hold no nodes.
  * Each street line is cut into ways that carry highway/foot/sidewalk tags
  * from the engine's walkability vocabulary; about 30% are not walkable. */
object Gen {
  val Lon0 = 18.40
  val Lat0 = 54.30
  val MPerDegLat = 111320.0
  val MPerDegLon: Double = MPerDegLat * math.cos(math.toRadians(Lat0 + 0.04))

  final case class Sizes(extentM: Double, holes: Int, pois: Int, noiseElems: Int,
                         lookups: Int, docs: Int, benchDocs: Int, vocab: Int,
                         domainCap: Int)

  val Full = Sizes(extentM = 6300, holes = 4, pois = 300, noiseElems = 100,
    lookups = 400, docs = 700, benchDocs = 40, vocab = 3000, domainCap = 20)
  val Tiny = Sizes(extentM = 3200, holes = 1, pois = 150, noiseElems = 40,
    lookups = 200, docs = 400, benchDocs = 20, vocab = 800, domainCap = 40)

  final case class Node(idx: Int, osmId: Long, lon: Double, lat: Double)
  final case class Edge(wayId: Long, u: Int, v: Int, w: Double,
                        highway: String, foot: String, sidewalk: String)
  final case class Element(id: Long, key: String, value: String, name: String,
                           lon: Double, lat: Double)
  final case class Point(id: Long, lon: Double, lat: Double)
  final case class Hole(x: Double, y: Double, r: Double, kind: String)

  final case class City(nodes: Array[Node], edges: Array[Edge], elements: Array[Element],
                        lookups: Array[Point], addresses: Array[Point], holes: Seq[Hole],
                        farPois: Int, farLookups: Int, nonWalkableEdges: Int)

  final case class Doc(id: Long, text: String, source: String, domain: String)
  final case class Corpus(docs: Array[Doc], benchmark: Array[Doc],
                          exactGroups: Seq[Seq[Long]], nearDups: Int, subsets: Int,
                          contaminated: Int, spam: Int)

  def lon(x: Double): Double = Lon0 + x / MPerDegLon
  def lat(y: Double): Double = Lat0 + y / MPerDegLat

  /** Way tags as (highway, foot, sidewalk, walkable). Mixed case and padding
    * exercise the engine's tag normalization. */
  private val WayTags: Seq[(String, String, String, Boolean, Double)] = Seq(
    ("residential", null, null, true, 0.24),
    ("Footway", null, null, true, 0.08),
    (" path ", null, null, true, 0.05),
    ("service", null, null, true, 0.06),
    ("living_street", null, null, true, 0.04),
    ("unclassified", null, null, true, 0.05),
    ("PEDESTRIAN", null, null, true, 0.03),
    ("steps", null, null, true, 0.02),
    ("cycleway", "yes", null, true, 0.03),
    ("primary", null, "both", true, 0.05),
    ("secondary", "designated", "no", true, 0.03),
    ("tertiary", null, "right", true, 0.02),
    ("primary", null, "no", false, 0.07),
    ("secondary", "no", null, false, 0.06),
    ("motorway", null, null, false, 0.05),
    ("trunk", "yes", "both", false, 0.04),
    ("construction", null, null, false, 0.05),
    ("tertiary", null, null, false, 0.03))

  private def pickWeighted[T](r: SplittableRandom, xs: Seq[(T, Double)]): T = {
    var u = r.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  /** Zipf(s) sampler over ranks 0..n-1 (inverse CDF by binary search). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def lineOffsets(r: SplittableRandom, extent: Double): Array[Double] = {
    val b = ArrayBuffer(0.0)
    while (b.last < extent) b += b.last + 40.0 + 40.0 * r.nextDouble()
    b.toArray
  }

  def city(seed: Long, sz: Sizes): City = {
    val r = new SplittableRandom(seed * 1000003L + 17)
    val xs = lineOffsets(r, sz.extentM)
    val ys = lineOffsets(r, sz.extentM)
    val holes = (0 until sz.holes).map { i =>
      val rad = 450.0 + 300.0 * r.nextDouble()
      Hole(rad + 200 + (sz.extentM - 2 * rad - 400) * r.nextDouble(),
        rad + 200 + (sz.extentM - 2 * rad - 400) * r.nextDouble(), rad,
        if (i % 2 == 0) "park" else "water")
    }
    def inHole(x: Double, y: Double, margin: Double = 0.0): Boolean =
      holes.exists(h => math.hypot(x - h.x, y - h.y) < h.r - margin)

    // nodes: lattice (i, j) -> dense index, holes removed
    val grid = Array.fill(xs.length, ys.length)(-1)
    val nodeXY = ArrayBuffer.empty[(Double, Double)]
    for (i <- xs.indices; j <- ys.indices) {
      val x = xs(i) + (r.nextDouble() - 0.5) * 12
      val y = ys(j) + (r.nextDouble() - 0.5) * 12
      if (!inHole(x, y)) { grid(i)(j) = nodeXY.length; nodeXY += ((x, y)) }
    }
    val nodes = nodeXY.zipWithIndex.map { case ((x, y), k) =>
      Node(k, 1000000000L + k * 7L + 3, lon(x), lat(y))
    }.toArray

    // edges: each street line is cut into ways of 3-8 segments, one tag set each
    val edges = ArrayBuffer.empty[Edge]
    var wayId = 0L
    var nonWalkable = 0
    def street(cells: IndexedSeq[Int]): Unit = {
      var k = 0
      while (k < cells.length - 1) {
        val len = 3 + r.nextInt(6)
        wayId += 1
        val (hw, foot, sw, ok) = pickWeighted(r, WayTags.map(t => ((t._1, t._2, t._3, t._4), t._5)))
        for (s <- k until math.min(k + len, cells.length - 1)) {
          val (u, v) = (cells(s), cells(s + 1))
          if (u >= 0 && v >= 0) {
            val (ux, uy) = nodeXY(u); val (vx, vy) = nodeXY(v)
            edges += Edge(wayId, u, v, math.max(math.hypot(ux - vx, uy - vy), 0.01), hw, foot, sw)
            if (!ok) nonWalkable += 1
          }
        }
        k += len
      }
    }
    for (j <- ys.indices) street(xs.indices.map(i => grid(i)(j)))
    for (i <- xs.indices) street(ys.indices.map(j => grid(i)(j)))

    // a point more than 300 m from every node: deep inside a hole, or
    // outside the district
    def farPoint(): (Double, Double) = {
      val deep = holes.filter(_.r > 420)
      if (deep.nonEmpty && r.nextBoolean()) {
        val h = deep(r.nextInt(deep.length))
        val a = r.nextDouble() * 2 * math.Pi; val d = (h.r - 400) * math.sqrt(r.nextDouble())
        (h.x + d * math.cos(a), h.y + d * math.sin(a))
      } else {
        val t = r.nextDouble() * sz.extentM; val out = 450 + 600 * r.nextDouble()
        r.nextInt(4) match {
          case 0 => (-out, t)
          case 1 => (sz.extentM + out, t)
          case 2 => (t, -out)
          case _ => (t, sz.extentM + out)
        }
      }
    }
    def streetPoint(): (Double, Double) = {
      var p = (0.0, 0.0)
      do p = (r.nextDouble() * sz.extentM, r.nextDouble() * sz.extentM)
      while (inHole(p._1, p._2, margin = -20))
      p
    }

    // POI elements: Zipf categories in a seed-dependent rank order, 2% far
    val cats = graft.operators.PoiExtract.TagMap.map(_._1).distinct.toArray
    val rank = cats.indices.toArray
    for (i <- rank.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t }
    val catZipf = new Zipf(cats.length, 1.0)
    val noise = Seq(("shop", "shoes"), ("amenity", "fuel"), ("highway", "primary"),
      ("landuse", "grass"), ("amenity", "bench"))
    val elems = ArrayBuffer.empty[Element]
    var farPois = 0
    for (k <- 0 until sz.pois + sz.noiseElems) {
      val (key, value) =
        if (k < sz.pois) {
          val cat = cats(rank(catZipf.sample(r)))
          val pairs = graft.operators.PoiExtract.TagMap.filter(_._1 == cat)
          val p = pairs(r.nextInt(pairs.length)); (p._2, p._3)
        } else noise(r.nextInt(noise.length))
      val (x, y) =
        if (k < sz.pois && r.nextDouble() < 0.02) { farPois += 1; farPoint() }
        else {
          val (nx, ny) = nodeXY(r.nextInt(nodeXY.length))
          (nx + (r.nextDouble() - 0.5) * 50, ny + (r.nextDouble() - 0.5) * 50)
        }
      elems += Element(0L, key, value, if (r.nextInt(5) == 0) null else s"poi $k", lon(x), lat(y))
    }
    // shuffle, then number: element ids carry no generation order
    val elemArr = elems.toArray
    for (i <- elemArr.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = elemArr(i); elemArr(i) = elemArr(j); elemArr(j) = t }
    val elements = elemArr.zipWithIndex.map { case (e, i) => e.copy(id = 500000L + i) }

    var farLookups = 0
    val lookups = Array.tabulate(sz.lookups) { q =>
      val (x, y) = if (r.nextDouble() < 0.05) { farLookups += 1; farPoint() } else streetPoint()
      Point(q.toLong, lon(x), lat(y))
    }
    val addresses = Array.tabulate(math.max(nodes.length / 10, 1)) { q =>
      val (x, y) = streetPoint(); Point(q.toLong, lon(x), lat(y))
    }
    City(nodes, edges.toArray, elements, lookups, addresses, holes, farPois, farLookups, nonWalkable)
  }

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
    "do", "fi", "gu", "he", "ja", "be", "co", "ly", "wu", "xe", "qi", "ro", "ta", "en")

  def corpus(seed: Long, sz: Sizes): Corpus = {
    val r = new SplittableRandom(seed * 1000003L + 29)
    val vocab = Array.tabulate(sz.vocab) { i =>
      val sb = new StringBuilder
      var k = i + 1
      while (k > 0) { sb ++= Syllables(k % Syllables.length); k /= Syllables.length }
      if (i % 3 == 0) sb ++= Syllables((i / 3) % Syllables.length)
      sb.toString
    }
    val wordZipf = new Zipf(sz.vocab, 1.05)
    val srcZipf = new Zipf(10, 0.8)
    val domZipf = new Zipf(300, 1.0)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(wordZipf.sample(r)))
    def meta(): (String, String) = (s"src${srcZipf.sample(r)}", s"dom${domZipf.sample(r)}")

    val benchmark = Array.tabulate(sz.benchDocs) { i =>
      Doc(900000L + i, words(40 + r.nextInt(60)).mkString(" "), "bench", "bench")
    }
    val nNatural = (sz.docs * 0.865).toInt
    val natural = Array.fill(nNatural)(words(40 + r.nextInt(70)))
    val docs = ArrayBuffer.empty[(Array[String], Int)] // (tokens, exact-dup group or -1)
    natural.foreach(w => docs += ((w, -1)))
    val nExact = (sz.docs * 0.04).toInt
    val exactSrc = (0 until nExact).map(_ => r.nextInt(nNatural))
    exactSrc.foreach(s => docs += ((natural(s), s)))
    val nNear = (sz.docs * 0.04).toInt
    for (_ <- 0 until nNear) {
      val w = natural(r.nextInt(nNatural)).clone()
      for (_ <- 0 until math.max(1, w.length / 25)) w(r.nextInt(w.length)) = vocab(wordZipf.sample(r))
      docs += ((w, -1))
    }
    // containment subsets: a 25-45% slice of a long document (contained in
    // it, but with Jaccard below the near-dup threshold)
    val longDocs = natural.indices.filter(i => natural(i).length >= 90)
    val nSub = (sz.docs * 0.02).toInt
    for (_ <- 0 until nSub) {
      val w = natural(longDocs(r.nextInt(longDocs.length)))
      val len = (w.length * (0.25 + 0.2 * r.nextDouble())).toInt
      val st = r.nextInt(w.length - len + 1)
      docs += ((w.slice(st, st + len), -1))
    }
    val nCont = (sz.docs * 0.02).toInt
    for (_ <- 0 until nCont) {
      val b = benchmark(r.nextInt(benchmark.length)).text.split(" ")
      val st = r.nextInt(b.length - 12 + 1)
      val w = words(40 + r.nextInt(80))
      val at = r.nextInt(w.length)
      docs += ((w.take(at) ++ b.slice(st, st + 12) ++ w.drop(at), -1))
    }
    val nSpam = (sz.docs * 0.01).toInt
    for (_ <- 0 until nSpam) {
      val phrase = words(3)
      docs += ((Array.fill(15)(phrase).flatten, -1))
    }
    val nJunk = sz.docs - docs.length
    for (_ <- 0 until math.max(nJunk, 0)) docs += ((Array.fill(30)("zz"), -1))

    // shuffled ids, so planted copies are not always the larger id
    val ids = (0L until docs.length.toLong).toArray
    for (i <- ids.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t }
    val out = docs.zipWithIndex.map { case ((w, _), k) =>
      val (src, dom) = meta(); Doc(ids(k) + 1, w.mkString(" "), src, dom)
    }.toArray
    val groups = docs.zipWithIndex.collect { case ((_, g), k) if g >= 0 => g -> out(k).id }
      .groupBy(_._1).map { case (g, copies) => (out(g).id +: copies.map(_._2).toSeq) }.toSeq
    Corpus(out, benchmark, groups, nNear, nSub, nCont, nSpam)
  }

  /** SHA-256 over a canonical text form of every generated row. */
  def hash(rows: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((String.valueOf(r) + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def hashCity(c: City): String =
    hash(c.nodes.iterator ++ c.edges ++ c.elements ++ c.lookups ++ c.addresses)

  def hashCorpus(k: Corpus): String = hash(k.docs.iterator ++ k.benchmark)

  /** Input properties, logged with the hash. */
  def describeCity(c: City): Seq[(String, Any)] = {
    val ws = c.edges.map(_.w).sorted
    def q(p: Double) = f"${ws(((ws.length - 1) * p).toInt)}%.1f"
    val cats = graft.operators.PoiExtract.TagMap.map { case (cat, kk, v) => (kk, v) -> cat }.toMap
    val perCat = c.elements.flatMap(e => cats.get((e.key, e.value))).groupBy(identity)
      .map { case (cat, xs) => cat -> xs.length }.toSeq.sortBy(-_._2)
    val poiCount = perCat.map(_._2).sum
    Seq(
      "nodes" -> c.nodes.length,
      "edges" -> c.edges.length,
      "edge_m_min_p50_p95_max" -> s"${q(0)}/${q(0.5)}/${q(0.95)}/${q(1)}",
      "non_walkable_edge_share" -> f"${c.nonWalkableEdges.toDouble / c.edges.length}%.3f",
      "holes" -> c.holes.map(h => f"${h.kind}:${h.r}%.0fm").mkString(","),
      "elements" -> c.elements.length,
      "pois" -> poiCount,
      "pois_per_category" -> perCat.map { case (cat, n) => s"$cat=$n" }.mkString(","),
      "far_poi_share" -> f"${c.farPois.toDouble / poiCount}%.3f",
      "lookup_points" -> c.lookups.length,
      "far_lookup_share" -> f"${c.farLookups.toDouble / c.lookups.length}%.3f",
      "backfill_addresses" -> c.addresses.length)
  }

  def describeCorpus(k: Corpus): Seq[(String, Any)] = Seq(
    "docs" -> k.docs.length,
    "benchmark_docs" -> k.benchmark.length,
    "exact_dup_share" -> f"${k.exactGroups.map(_.size - 1).sum.toDouble / k.docs.length}%.3f",
    "near_dup_share" -> f"${k.nearDups.toDouble / k.docs.length}%.3f",
    "subset_share" -> f"${k.subsets.toDouble / k.docs.length}%.3f",
    "contaminated_share" -> f"${k.contaminated.toDouble / k.docs.length}%.3f",
    "spam_share" -> f"${k.spam.toDouble / k.docs.length}%.3f")
}
