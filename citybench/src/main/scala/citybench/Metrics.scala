package citybench

/** Every metric the benchmark reports, with its unit. `BENCHMARK.json`
  * lists the same names; the self-test holds the two together. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  /** Layer spans, in chain order. */
  val Spans: Seq[String] = Seq(
    "PoiExtract.extractJoin", "SnapJoin.nearestNode",
    "GraphOps.cleanWalkableEdges", "GraphOps.symmetrizeDedup",
    "Grid.assignBuffered", "Grid.assignOwner",
    "Dijkstra.reach", "Dijkstra.reachSummary",
    "Sinks.writeJdbc", "Sinks.readJdbc",
    "QueryLayer.snapPoints", "QueryLayer.pointQuery",
    "Corpus.intake", "CorpusOps.decontaminate", "TextOps.nearDupDropIds",
    "TextOps.shingleTable", "TextOps.containmentPairsPrefix",
    "CorpusOps.repetitionStats", "TextOps.charEntropy",
    "CorpusOps.capPerDomain", "CorpusOps.sampleByHash", "CorpusOps.chunkTokens",
    "Bpe.merges")

  val SpanMeasures: Seq[(String, String)] = Seq(
    "self_ms" -> "ms", "driver_ms" -> "ms", "jobs" -> "count",
    "task_s" -> "s", "shuffle_mb" -> "MB")

  /** Per-operation counts and ratios, averaged over traced operations. */
  val Counters: Seq[(String, String)] = Seq(
    "SnapJoin.nearestNode.hit_frac" -> "ratio",
    "GraphOps.cleanWalkableEdges.keep_frac" -> "ratio",
    "Grid.replication" -> "ratio",
    "Dijkstra.reach.owned_frac" -> "ratio",
    "Dijkstra.reach.rows_out" -> "rows",
    "Sinks.writeJdbc.rows_per_s" -> "rows/s",
    "QueryLayer.snapPoints.miss_frac" -> "ratio",
    "TextOps.nearDupDropIds.drop_frac" -> "ratio",
    "TextOps.containmentPairsPrefix.pairs_out" -> "rows",
    "spark.gc_ms" -> "ms")

  /** Whole-operation figures, as medians over traced operations. */
  val OpFigures: Seq[(String, String)] = Seq(
    "spark.spill_mb" -> "MB",
    "trace.root_self_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  val PerLayer: Seq[(String, String)] =
    Spans.flatMap(s => SpanMeasures.map { case (m, u) => s"$s.$m" -> u }) ++
      Counters ++ OpFigures
}
