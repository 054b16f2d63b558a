package citybench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** The benchmark's own test at a tiny size: every checker passes on the
  * engine's real output and fires on a deliberately corrupted copy. */
object SelfTest {
  def run(spark: SparkSession): Boolean = {
    val seed = 7L
    val tr = new Trace(spark.sparkContext, listen = false)
    var ok = true
    def expect(name: String, failures: Seq[String], shouldFail: Boolean): Unit = {
      val pass = failures.nonEmpty == shouldFail
      Main.log(s"selftest ${if (pass) "ok  " else "FAIL"} $name${failures.headOption.map(f => s" ($f)").getOrElse("")}")
      ok &&= pass
    }

    // precompute
    val pre = new Precompute(spark, seed, Gen.Tiny)
    pre.prepare(tr)
    val po = pre.op(0, tr)
    expect("precompute empty stage", Precompute.checkCounts(po.counts.clone() += ("reach_summary" -> 0L)), shouldFail = true)
    val dropOne = po.reach.exceptAll(po.reach.limit(1))
    expect("precompute reach row dropped", Precompute.checkTiling(spark, dropOne, po.sym, po.snapped), shouldFail = true)
    val stored = Sinks.readJdbc(spark, pre.url, "reach")
    val altered = stored.withColumn("dist_m",
      when(col("node_idx") === stored.agg(min("node_idx")).head().getInt(0), col("dist_m") + 1.0)
        .otherwise(col("dist_m")))
    expect("precompute JDBC row altered", Precompute.checkStored(po.reach, altered), shouldFail = true)
    expect("precompute checks", pre.verify(0, po) ++ pre.finalChecks(), shouldFail = false)
    pre.release()

    // lookup
    val lk = new Lookup(spark, seed, Gen.Tiny)
    lk.prepare(tr)
    lk.warmup(tr)
    val answers = (0 until 20).map(i => i -> lk.op(i, tr))
    expect("lookup responses", answers.flatMap { case (i, a) => lk.verify(i, a) }, shouldFail = false)
    val (i0, a0) = answers.find(_._2.hits.nonEmpty).get
    val bent = a0.copy(hits = a0.hits.updated(0, a0.hits.head.copy(_2 = a0.hits.head._2 + 0.5)))
    expect("lookup row altered", lk.verify(i0, bent), shouldFail = true)
    val far = answers.find(_._2.node < 0)
    expect("lookup far point present", if (far.isEmpty) Seq("no far point in 20 requests") else Nil, shouldFail = false)
    expect("lookup wrong snap", Lookup.check(a0.copy(node = a0.node + 1), a0.hits, Some(a0.node + 1),
      Some(Lookup.bruteForceSnap(lk.nodes, a0.point))), shouldFail = true)
    lk.release()

    // curate
    val cu = new Curate(spark, seed, Gen.Tiny)
    cu.prepare(tr)
    val co = cu.op(0, tr)
    expect("curate stage grew", Curate.checkStages(co.copy(stages = co.stages.clone() += ("extra" -> (co.stages.values.last + 1)))), shouldFail = true)
    val ids = co.intake.select("doc_id").collect().map(_.getLong(0)).toSet
    val groups = cu.exactGroups
    expect("curate exact duplicates", Curate.checkExactDups(ids, groups), shouldFail = false)
    expect("curate duplicate kept", Curate.checkExactDups(ids ++ groups.head, groups), shouldFail = true)
    expect("curate containment pair dropped",
      Curate.checkContainment(co.shingles, co.pairs.exceptAll(co.pairs.limit(1))), shouldFail = true)
    expect("curate checks", cu.verify(0, co) ++ cu.finalChecks(), shouldFail = false)
    cu.release()
    tr.close()
    ok
  }
}
