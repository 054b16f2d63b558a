package citybench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, CorpusOps, TextOps}

/** The corpus and its held-out benchmark set as materialized engine tables. */
final class CorpusTables(spark: SparkSession, val corpus: Gen.Corpus) {
  import spark.implicits._
  val held = new Held
  val (docs, nDocs) = held.force(corpus.docs.toSeq
    .map(d => (d.id, d.text, d.source, d.domain)).toDF("doc_id", "text", "source", "domain"))
  val (benchmark, _) = held.force(corpus.benchmark.toSeq
    .map(d => (d.id, d.text)).toDF("doc_id", "text"))
}

/** The training-corpus curation chain, in `graft.CorpusPipeline`'s order:
  * intake dedup → decontamination → MinHash near-dup drop → containment
  * drop → repetition + entropy quality gate → per-domain cap → hash
  * sampling → token chunking → BPE merges. Every stage is a filter over
  * the previous one. */
object Curate {
  val Rates: Map[String, Double] =
    (0 until 10).map(i => s"src$i" -> (if (i < 4) 1.0 else if (i < 8) 0.5 else 0.25)).toMap

  final case class Out(stages: mutable.LinkedHashMap[String, Long], chunks: Long, merges: Int,
                       intake: DataFrame, shingles: DataFrame, pairs: DataFrame, held: Held)

  def chain(spark: SparkSession, t: CorpusTables, cap: Int, tr: Trace): Out = {
    val h = new Held
    val st = mutable.LinkedHashMap("corpus_in" -> t.nDocs)
    def stage(name: String, df: DataFrame): DataFrame = { val (c, n) = h.force(df); st(name) = n; c }

    // content dedup keeping the smallest doc_id, plus the 20-token floor
    val intake = tr.span("Corpus.intake") {
      val keep = t.docs.groupBy(md5(col("text")).as("h")).agg(min("doc_id").as("doc_id")).select("doc_id")
      stage("intake", t.docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(size(TextOps.words(col("text"))) >= 20))
    }
    val decon = tr.span("CorpusOps.decontaminate") {
      stage("decontaminated", CorpusOps.decontaminate(intake, t.benchmark, n = 8))
    }
    val deduped = tr.span("TextOps.nearDupDropIds") {
      val d = stage("near_dedup",
        decon.join(TextOps.nearDupDropIds(decon, "doc_id"), Seq("doc_id"), "left_anti"))
      tr.count("TextOps.nearDupDropIds.drop_frac", 1.0 - st("near_dedup").toDouble / st("decontaminated"))
      d
    }
    val sh = tr.span("TextOps.shingleTable") { h.force(TextOps.shingleTable(deduped, "doc_id"))._1 }
    // drop each document contained (≥ 4/5 of its shingles) in another; of a
    // mutually contained pair, drop the larger id
    val (kept, pairs) = tr.span("TextOps.containmentPairsPrefix") {
      val (p, n) = h.force(TextOps.containmentPairsPrefix(sh, "doc_id", thrNum = 4, thrDen = 5))
      tr.count("TextOps.containmentPairsPrefix.pairs_out", n.toDouble)
      val mutual = p.as("a").join(p.as("b"),
        col("a.id1") === col("b.id2") && col("a.id2") === col("b.id1"), "left_semi")
      val drop = p.join(mutual.filter(col("id1") < col("id2")).select("id1", "id2"),
          Seq("id1", "id2"), "left_anti")
        .select(col("id1").as("doc_id")).distinct()
      (stage("containment", deduped.join(drop, Seq("doc_id"), "left_anti")), p)
    }
    val rep = tr.span("CorpusOps.repetitionStats") {
      h.force(CorpusOps.repetitionStats(kept)
        .filter(col("dup_2gram_ratio") <= 0.5 && col("top_tok_share") <= 0.5)
        .select("doc_id"))._1
    }
    // the entropy floor, and the quality gate's join of both filters
    val quality = tr.span("TextOps.charEntropy") {
      val ent = TextOps.charEntropy(kept).filter(col("entropy_nat") >= 1.0).select("doc_id")
      stage("quality", kept.join(rep, Seq("doc_id"), "left_semi").join(ent, Seq("doc_id"), "left_semi"))
    }
    val capped = tr.span("CorpusOps.capPerDomain") {
      stage("domain_capped", CorpusOps.capPerDomain(quality, cap = cap))
    }
    val sampled = tr.span("CorpusOps.sampleByHash") {
      stage("sampled", CorpusOps.sampleByHash(capped, Rates))
    }
    val chunks = tr.span("CorpusOps.chunkTokens") {
      h.force(CorpusOps.chunkTokens(sampled, size = 32, stride = 16))._2
    }
    val merges = tr.span("Bpe.merges")(Bpe.merges(sampled, rounds = 6).collect().length)
    Out(st, chunks, merges, intake, sh, pairs, h)
  }

  /** Every stage is a non-empty filter over the previous one. */
  def checkStages(o: Out): Seq[String] =
    o.stages.toSeq.sliding(2).collect {
      case Seq((a, na), (b, nb)) if nb > na => s"stage $b grew: $a=$na -> $b=$nb"
    }.toSeq ++
      o.stages.collect { case (k, 0) => s"stage $k is empty" } ++
      (if (o.chunks <= 0) Seq("no chunks") else Nil) ++
      (if (o.merges != 6) Seq(s"${o.merges} BPE merges, expected 6") else Nil)

  /** At most one document of each planted exact-duplicate group survives
    * intake. */
  def checkExactDups(intakeIds: Set[Long], groups: Seq[Seq[Long]]): Seq[String] =
    groups.filter(g => g.count(intakeIds) > 1)
      .map(g => s"exact duplicates ${g.filter(intakeIds).mkString(",")} all survived intake")

  /** The prefix-filtered containment join must equal the exact one. */
  def checkContainment(sh: DataFrame, pairs: DataFrame): Seq[String] = {
    val exact = TextOps.containmentPairs(sh, "doc_id", threshold = 0.8)
    val cols = Seq("id1", "id2", "containment").map(col)
    val (a, b) = (pairs.select(cols: _*), exact.select(cols: _*))
    val diff = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    if (diff == 0) Nil else Seq(s"containmentPairsPrefix differs from containmentPairs in $diff rows")
  }
}

final class Curate(spark: SparkSession, seed: Long, sizes: Gen.Sizes) extends Workload {
  type Out = Curate.Out
  private var tables: CorpusTables = _
  private var first: Option[Out] = None

  def prepare(tr: Trace): Unit = {
    release()
    val corpus = Gen.corpus(seed, sizes)
    Main.log(s"inputs sha256=${Gen.hashCorpus(corpus)}")
    Gen.describeCorpus(corpus).foreach { case (k, v) => Main.log(s"input $k=$v") }
    tables = new CorpusTables(spark, corpus)
  }

  def warmup(tr: Trace): Unit = Curate.chain(spark, tables, sizes.domainCap, tr).held.release()

  def op(i: Int, tr: Trace): Out = Curate.chain(spark, tables, sizes.domainCap, tr)

  def verify(i: Int, o: Out): Seq[String] = {
    Main.log(s"op $i stages: ${o.stages.map { case (k, v) => s"$k=$v" }.mkString(" ")} chunks=${o.chunks}")
    val same = first match {
      case Some(f) if f.stages != o.stages || f.chunks != o.chunks => Seq(s"op $i stage counts differ from op 0")
      case None => first = Some(o); Nil
      case _ => Nil
    }
    if (!first.exists(_ eq o)) o.held.release()
    Curate.checkStages(o) ++ same
  }

  def finalChecks(): Seq[String] = first.toSeq.flatMap { o =>
    try {
      val ids = o.intake.select("doc_id").collect().map(_.getLong(0)).toSet
      Curate.checkExactDups(ids, tables.corpus.exactGroups) ++ Curate.checkContainment(o.shingles, o.pairs)
    } finally o.held.release()
  }

  def exactGroups: Seq[Seq[Long]] = tables.corpus.exactGroups

  def release(): Unit = if (tables != null) tables.held.release()
}
