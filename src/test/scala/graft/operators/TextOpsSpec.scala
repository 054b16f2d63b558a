package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now friends"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "short one"))
    .toDF("doc_id", "text")

  test("shingles: n-gram count, distinctness, short-doc guard") {
    val sh = docs.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).size == 7) // 9 words -> 7 trigrams, all distinct here
    assert(sh(1L).head == "the quick brown")
    assert(sh(5L).isEmpty) // 2 words < n
    assert(sh(3L).size == 5)
  }

  test("minhash: identical docs get identical signatures; sigs have k elems") {
    val sig = docs.filter(col("doc_id") =!= 5) // doc 5 has no shingles
      .select(col("doc_id"),
        TextOps.minhashSignature(TextOps.shingleHashes(TextOps.shingles(col("text"))), k = 12).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) == sig(4L))
    assert(sig(1L).size == 12)
    assert(sig(1L) != sig(3L))
    assert(sig.values.flatten.forall(h => h >= 0 && h < TextOps.MinhashP))
  }

  test("LSH candidates + jaccard verify find near and exact dups, not strangers") {
    val sh = TextOps.shingleTable(docs, "doc_id")
    val cand = TextOps.minhashCandidates(sh, "doc_id")
    val ver = TextOps.jaccardVerify(cand, sh, "doc_id", threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(ver.contains((1L, 4L))) // exact dup always caught
    assert(ver.contains((1L, 2L)) && ver.contains((2L, 4L))) // 6/8 shared trigrams = 0.75
    assert(!ver.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("jaccard bounds: 1.0 for identical docs, 0.0 for disjoint docs") {
    val pairs = Seq((1L, 4L), (1L, 3L)).toDF("id1", "id2")
    val all = TextOps.jaccardVerify(pairs, TextOps.shingleTable(docs, "doc_id"), "doc_id", threshold = -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(all((1L, 4L)) == 1.0)
    assert(all((1L, 3L)) == 0.0)
  }

  test("simhash64: identical docs collide; blocks 16-bit; join finds hd<=3 pairs") {
    val terms = docs.select(col("doc_id"), explode(TextOps.shingles(col("text"))).as("term"))
    val sim = TextOps.simhash64(terms, "doc_id")
    val byId = sim.as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(byId(1L) == byId(4L)) // exact dups -> identical 64-bit hash
    assert(byId.values.forall { case (b0, b1, b2, b3) =>
      Seq(b0, b1, b2, b3).forall(b => b >= 0 && b <= 0xFFFF) }) // 16-bit blocks
    // the four blocks are genuinely independent halves of one 64-bit hash:
    // distinct docs should not share all four blocks
    assert(byId(1L) != byId(3L))
    val pairs = TextOps.simhashPairs(sim, "doc_id", maxHamming = 3)
      .select("id1", "id2", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
    // stranger doc 3 must not appear within hd<=3 of anything
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("langId: marker counting and lexicographic tie-break") {
    val d = Seq(
      (1L, "customer hash big row row"), // de markers
      (2L, "order window table group"), // en markers
      (3L, "xxx yyy zzz")) // no markers: all scores 0 -> tie -> 'de'
      .toDF("doc_id", "text")
    val got = TextOps.langId(d).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "de" && got(2L) == "en" && got(3L) == "de")
  }

  test("quality metrics: exact ratios") {
    val d = Seq((1L, "a a the fox")).toDF("doc_id", "text")
    val r = TextOps.qualityMetrics(d)
      .select("n_tokens", "mean_token_len", "stop_ratio", "uniq_ratio").head
    assert(r.getInt(0) == 4)
    assert(r.getDouble(1) == (11 - 3) / 4.0)
    assert(r.getDouble(2) == 3 / 4.0)
    assert(r.getDouble(3) == 3 / 4.0)
  }

  test("token counts: ws, subword runs, chars/4") {
    val d = Seq((1L, "tree stone")).toDF("doc_id", "text")
    val r = TextOps.tokenCounts(d).select("tok_ws", "tok_sub", "tok_est4").head
    assert(r.getInt(0) == 2)
    // tree: [tr][ee]; stone: [st][o][n][e] -> vowel runs: ee,o,e =3; consonant runs: tr,st,n =3
    assert(r.getInt(1) == 6)
    assert(r.getInt(2) == 3) // ceil(10/4)
  }

  test("jaccardAllPairs equals brute-force all-pairs Jaccard") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val d = (0L until 25L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = d.toDF("doc_id", "text")
    val sh = TextOps.shingleTable(df, "doc_id")
    val got = TextOps.jaccardAllPairs(sh, "doc_id", threshold = 0.3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // brute force over the same shingle sets
    val sets = sh.as[(Long, Seq[String])].collect().map { case (id, s) => id -> s.toSet }.toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a) | sets(b)).size if j >= 0.3
    } yield (a, b) -> j).toMap
    assert(got == want)
  }

  test("jaccardAllPairs is a superset of the LSH-verified pairs (exactness)") {
    val sh = TextOps.shingleTable(docs, "doc_id").cache()
    val lsh = TextOps.jaccardVerify(
        TextOps.minhashCandidates(sh, "doc_id"), sh, "doc_id", 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val exact = TextOps.jaccardAllPairs(sh, "doc_id", 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("containmentPairs matches brute-force |A∩B|/|A| and is asymmetric") {
    val corpus = docs.union(Seq(
      // 6 wholly contains 1's text inside a longer page: containment(1→6)
      // = 1 while Jaccard(1,6) is well under the 0.5 near-dup bar
      (6L, "page header junk the quick brown fox jumps over the lazy dog more trailing boilerplate text here"))
      .toDF("doc_id", "text"))
    val got = TextOps.containmentPairs(
        TextOps.shingleTable(corpus, "doc_id"), "doc_id", threshold = 0.9)
      .select("id1", "id2", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val sets = corpus.select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
      .map { case (k, v) => k -> v.toSet }.filter(_._2.nonEmpty)
    val want = (for {
      a <- sets.keys; b <- sets.keys if a != b
      c = (sets(a) & sets(b)).size.toDouble / sets(a).size if c >= 0.9
    } yield (a, b, c)).toSet
    assert(got == want)
    assert(got.contains((1L, 6L, 1.0)))    // short doc inside long page
    assert(!got.exists(p => p._1 == 6L && p._2 == 1L)) // container not contained
  }

  test("bigramLmScore matches hand-computed conditional bigram probabilities") {
    val corpus = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "x"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLmScore(corpus)
      .select("doc_id", "n_bigrams", "score_micro")
      .as[(Long, Long, Long)].collect().toSet
    // bigrams: (a,b)×2, (a,c)×1 → c1(a)=3; p(b|a)=666666µ, p(c|a)=333333µ
    assert(got == Set((1L, 1L, 666666L), (2L, 1L, 666666L), (3L, 1L, 333333L)))
    // "x" has no bigram → no row (the <2-token contract)
  }

  test("bigramLmScore probabilities are proper: per-prefix micro-probs sum to ~1e6") {
    // Σ_w2 (1e6·c2 div c1) over one prefix ∈ (1e6 − #distinct_w2, 1e6]
    val sums = TextOps.bigramLmScore(docs) // corpus-level sanity: every score
      .select("score_micro").as[Long].collect() // is a mean of valid probs
    assert(sums.forall(s => s >= 0 && s <= 1000000L))
  }

  test("vocabReport: global top-k by (freq desc, term), dense ranks") {
    val got = TextOps.vocabReport(docs, k = 3)
      .as[(Int, String, Long)].collect().toSeq
    val freqs = docs.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).groupBy(identity).view.mapValues(_.length.toLong)
    val want = freqs.toSeq.sortBy { case (t, f) => (-f, t) }.take(3)
      .zipWithIndex.map { case ((t, f), i) => (i + 1, t, f) }
    assert(got == want)
  }

  test("dupSpanMask: only tokens under a cross-doc repeated n-gram are masked") {
    // docs 10/11 share one 4-word span ("p q r s"); doc 12 repeats a span
    // only WITHIN itself (distinct-doc count 1 → not duplicated); doc 13 is
    // shorter than n and must still appear with zero masked tokens.
    val docs4 = Seq(
      (10L, "a b c p q r s d e"),
      (11L, "x y p q r s z w v u"),
      (12L, "m n o t m n o t"),
      (13L, "k l"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanMask(docs4, "doc_id", n = 4, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (10L, 9L, 4L, 5L),   // exactly "p q r s" covered
      (11L, 10L, 4L, 6L),
      (12L, 8L, 0L, 8L),   // within-doc repeat is NOT a cross-doc dup
      (13L, 2L, 0L, 2L)))  // shorter than n: nothing to mask
  }

  test("dupSpanMask: overlapping duplicated grams union their coverage") {
    // "a b c d e" appears in both docs → 4-grams (a b c d) and (b c d e)
    // both duplicated; coverage is the UNION {0..4} = 5 tokens, not 8.
    val docs2 = Seq((1L, "a b c d e x"), (2L, "z a b c d e"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpanMask(docs2, "doc_id", n = 4, minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 6L, 5L, 1L), (2L, 6L, 5L, 1L)))
  }

  test("fingerprint: deterministic, k md5s, equal for exact dups") {
    val fps = docs.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(4L))
    assert(fps(1L).split(",").length == 4)
    assert(fps(1L).split(",").forall(_.matches("[0-9a-f]{32}")))
    assert(fps(1L) != fps(3L))
  }

  test("editDistanceJoin == brute-force levenshtein join, incl. short strings and repeats") {
    // randomized corpus over a tiny alphabet (maximal gram collisions),
    // plus planted typo variants (substitution, deletion, insertion),
    // strings short enough for the brute bucket, and repeated-gram
    // strings (the bag-semantics occurrence pairing)
    val rnd = new scala.util.Random(23)
    val base = (0 until 80).map(_ =>
      (0 until (3 + rnd.nextInt(12))).map(_ => "abcd" (rnd.nextInt(4))).mkString)
    val typos = base.take(20).map { s =>
      rnd.nextInt(3) match {
        case 0 => "z" + s.drop(1)                   // substitution
        case 1 => s.drop(1)                          // deletion
        case _ => s.take(1) + "q" + s.drop(1)        // insertion
      }
    }
    val repeats = Seq("aaaaaaa", "aaaaaab", "abababab", "babababa", "aa", "ab", "b")
    val names = (base ++ typos ++ repeats).distinct
    val df = names.toDF("name")
    val got = TextOps.editDistanceJoin(df, "name", d = 2)
      .as[(String, String, Long)].collect().toSet
    val want = (for {
      a <- names; b <- names if a < b
      dist = {
        // textbook DP levenshtein
        val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      if dist <= 2
    } yield (a, b, dist.toLong)).toSet
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
    assert(want.nonEmpty, "degenerate fixture: no true pairs")
  }

  test("minhashCandidatesIncremental == full candidates restricted to new-id pairs") {
    val docs = (0 until 60).map { i =>
      val base = (0 until 30).map(w => s"w${(i * 7 + w) % 40}").mkString(" ")
      // plant near-dups across the corpus/new split boundary
      (i.toLong, if (i % 9 == 1) (0 until 30).map(w => s"w${((i - 1) * 7 + w) % 40}").mkString(" ") else base)
    }.toDF("doc_id", "text")
    val sh = TextOps.shingleTable(docs, "doc_id")
    val corpus = TextOps.minhashBands(sh.filter(col("doc_id") % 5 =!= 0), "doc_id")
    val fresh = TextOps.minhashBands(sh.filter(col("doc_id") % 5 === 0), "doc_id")
    val inc = TextOps.minhashCandidatesIncremental(corpus, fresh, "doc_id")
      .as[(Long, Long)].collect().toSet
    val full = TextOps.minhashCandidates(sh, "doc_id")
      .as[(Long, Long)].collect().toSet
      .filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    assert(inc == full, s"missing=${full -- inc} extra=${inc -- full}")
    assert(inc.nonEmpty, "degenerate fixture: no cross-split candidates")
  }

  test("containmentPairsPrefix == containmentPairs (planted containment + corpus)") {
    // planted: doc 20 wholly inside doc 21 (containment 1.0 one way, low
    // the other); plus the shared fixture corpus for variety
    val planted = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"))
      .toDF("doc_id", "text")
    val corpus = docs.union(planted)
    val sh = TextOps.shingleTable(corpus, "doc_id")
    val exact = TextOps.containmentPairs(sh, "doc_id", threshold = 0.8)
      .as[(Long, Long, Double)].collect().sorted
    val pref = TextOps.containmentPairsPrefix(sh, "doc_id", thrNum = 4, thrDen = 5)
      .as[(Long, Long, Double)].collect().sorted
    assert(pref.sameElements(exact))
    assert(exact.exists(p => p._1 == 20L && p._2 == 21L && p._3 == 1.0))
    assert(!exact.exists(p => p._1 == 21L && p._2 == 20L)) // big ⊄ small

    // heavy-tailed postings: one fixed 12-word boilerplate span (10 shared
    // trigrams) appended to ~30% of the docs (id % 10 < 3), the shape the
    // rarity prefix exists for. Organic texts are 20 distinct words; 140
    // copies 100 and 141 is 101's first 15 words, so the true pairs share
    // organic shingles while boilerplate-only overlap stays ≈ 10/30 < 0.8.
    val boiler = (0 until 12).map(i => s"bp_w$i").mkString(" ")
    def organic(id: Long, n: Int): String = (0 until n).map(j => s"d${id}_w$j").mkString(" ")
    val skewed = ((100L until 140L).map(id => id -> organic(id, 20)) ++
      Seq(140L -> organic(100L, 20), 141L -> organic(101L, 15)))
      .map { case (id, t) => (id, if (id % 10 < 3) s"$t $boiler" else t) }
      .toDF("doc_id", "text")
    val skSh = TextOps.shingleTable(skewed, "doc_id")
    val skExact = TextOps.containmentPairs(skSh, "doc_id", threshold = 0.8)
      .as[(Long, Long, Double)].collect().sorted
    val skPref = TextOps.containmentPairsPrefix(skSh, "doc_id", thrNum = 4, thrDen = 5)
      .as[(Long, Long, Double)].collect().sorted
    assert(skPref.sameElements(skExact))
    val shOf = skSh.as[(Long, Seq[String])].collect().toMap
    def boilerOnly(s: String): Boolean = s.split(" ").forall(_.startsWith("bp_"))
    // the tail is real: every boilerplate shingle sits in ≥ 30% of the docs
    assert(shOf.values.count(_.exists(boilerOnly)) >= 0.3 * shOf.size)
    assert(skExact.map(p => (p._1, p._2)).toSet ==
      Set((100L, 140L), (140L, 100L), (141L, 101L)))
    // no pair exists on the boilerplate alone
    assert(skExact.forall(p => (shOf(p._1).toSet & shOf(p._2).toSet).exists(!boilerOnly(_))))
  }

  test("charEntropy: constant, two-symbol, and uniform strings hit closed forms") {
    val d = Seq((1L, "aaaa"), (2L, "abab"), (3L, "abcd"), (4L, "")).toDF("doc_id", "text")
    val got = TextOps.charEntropy(d)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 1L, 0.0))) // one symbol: zero entropy
    assert(got(2L)._4 == math.rint(math.log(2) * 1e5) / 1e5) // uniform over 2
    assert(got(3L)._4 == math.rint(math.log(4) * 1e5) / 1e5) // uniform over 4
    assert(!got.contains(4L)) // empty text: no distribution, no row
    // mixed distribution: 3×a 1×b -> ln4 - (3 ln3)/4
    val m = TextOps.charEntropy(Seq((9L, "aaab")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Double)].head()
    assert(m._4 == math.rint((math.log(4) - 3 * math.log(3) / 4) * 1e5) / 1e5)
  }

  test("bm25: hand-checked score, tf saturation, length normalization, rare-term boost") {
    val docs = Seq(
      (1L, "x x x pad pad pad pad pad"),      // tf(x)=3, dl=8
      (2L, "x pad pad pad pad pad pad pad"),  // tf(x)=1, dl=8
      (3L, "x pad"),                          // tf(x)=1, dl=2 (short)
      (4L, "y pad pad pad pad pad pad pad"),  // rare term y
      (5L, "pad pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val got = TextOps.bm25(docs, Seq("x", "y"), topK = 10)
      .as[(Int, Long, Long, Long)].collect()
    val score = got.map(r => r._2 -> r._3).toMap
    // hand-computed replica of the operator's exact rounding discipline
    def rnd6(v: Double) = math.rint(v * 1e6) / 1e6
    def contrib(tf: Long, dl: Long, df: Long, n: Long, avgdl: Double): Long = {
      val idf6 = rnd6(math.log((n - df + 0.5) / (df + 0.5) + 1))
      val tfn6 = rnd6(tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      math.rint(1e6 * (idf6 * tfn6)).toLong
    }
    val avgdl = rnd6(34.0 / 5)
    assert(score(1L) == contrib(3, 8, 3, 5, avgdl))
    assert(score(4L) == contrib(1, 8, 1, 5, avgdl))
    assert(!score.contains(5L)) // no query term, no row
    assert(score(1L) > score(2L)) // more hits beat fewer at equal length
    assert(score(3L) > score(2L)) // same tf, shorter doc scores higher
    assert(score(4L) > score(2L)) // rarer term outweighs common at same tf/dl
    // ranks are dense, ordered by (score desc, doc_id)
    assert(got.sortBy(_._1).map(_._1).toSeq == (1 to got.length))
  }

  test("rrfFuse: integer reciprocals, full-outer merge, known fusion order") {
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("doc_id", "rank")
    val b = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("doc_id", "rank")
    val got = TextOps.rrfFuse(a, b, "doc_id")
      .as[(Long, Option[Long], Option[Long], Long)].collect()
      .map(r => r._1 -> r).toMap
    def c(r: Long) = 1000000000L / (60L + r)
    assert(got(10L) == ((10L, Some(1L), Some(2L), c(1) + c(2))))
    assert(got(20L) == ((20L, Some(2L), Some(1L), c(1) + c(2))))
    assert(got(30L) == ((30L, Some(3L), None, c(3))))    // one-list doc
    assert(got(40L) == ((40L, None, Some(3L), c(3))))
    // both-list docs outrank single-list docs at these depths
    assert(got(10L)._4 > got(30L)._4)
  }

  test("pmiCollocations: exact rational ratio vs a BigInt reference") {
    // "a b" always adjacent (strong collocation); "a c" co-occur but never
    // adjacent; filler repeats inflate unigram counts
    val docs = (0 until 30).map(i => (i.toLong,
      s"a b x$i y filler a b c filler filler a b")).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(docs, minCount = 5, k = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    // brute-force reference over the same tokenization
    val texts = (0 until 30).map(i => s"a b x$i y filler a b c filler filler a b")
    val toks = texts.flatMap(_.split(" "))
    val uni = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bis = texts.flatMap(t => { val w = t.split(" "); w.zip(w.tail) })
    val nBi = BigInt(bis.size)
    val nUni = BigInt(toks.size)
    val want = bis.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .filter(_._2 >= 5)
      .map { case ((w1, w2), cxy) =>
        (w1, w2, cxy,
          (BigInt(cxy) * nUni * nUni * 1000000 / (nBi * uni(w1) * uni(w2))).toLong)
      }
      .sortBy { case (w1, w2, _, r) => (-r, w1, w2) }.take(10)
    assert(got == want)
    // the always-adjacent pair outscores the filler self-pair, whose
    // unigram mass is high but adjacency is rare
    val byPair = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(byPair(("a", "b")) > byPair(("filler", "filler")))
  }

  test("winnowFingerprints matches a brute-force winnow (n=3, w=4)") {
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def brute(text: String): (Long, Long, Option[Long]) = {
      val w = text.split(" ", -1)
      if (w.length < 6) (0L, 0L, None)
      else {
        val hs = w.sliding(3).map(g => md5h(g.mkString(" "))).toVector
        val fp = hs.sliding(4).map(_.min).toVector.distinct
        (fp.length.toLong, fp.sum, Some(fp.min))
      }
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog today",
      "one two three four five six seven",
      "too short here",            // 3 words: grams exist, no full window
      "a b c d e f",               // exactly the minimum length
      "x x x x x x x x x")         // degenerate repeats: one distinct gram
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextOps.winnowFingerprints(docs)
      .orderBy("doc_id").as[(Long, Long, Long, Option[Long])].collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val (n, s, m) = brute(t)
      assert(got(i) == ((i.toLong, n, s, m)), s"doc $i ($t)")
    }
  }

  test("winnowing guarantee: a shared >= w+n-1 token run shares a fingerprint") {
    import org.apache.spark.sql.functions.col
    // 6 shared tokens (= w+n−1) embedded in different contexts
    val docs = Seq(
      (1L, "alpha beta SHARED1 SHARED2 SHARED3 SHARED4 SHARED5 SHARED6 gamma"),
      (2L, "zeta eta theta SHARED1 SHARED2 SHARED3 SHARED4 SHARED5 SHARED6"))
      .toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"),
        TextOps.winnowSelect(TextOps.words(col("text"))).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
  }

  test("sortedNeighborhoodPairs: window-bounded candidates, Levenshtein verify") {
    // block 'aa': planted adjacent near-dups; 'frost' vs 'wheat' blocks
    // never compare. In-block names 5 apart in sort order are NOT
    // candidates at w=4 even when similar.
    val names = Seq(
      "aa almond blue", "aa almond blues",      // adjacent, dist 1
      "aa azure xx", "aa banana yy", "aa cream zz",
      "aa almond blux",                         // sorts 3rd in block
      "frost pale qq", "wheat pale qq")
      .map(Tuple1(_)).toDF("p_name")
      .select(col("p_name"),
        org.apache.spark.sql.functions.split(col("p_name"), " ")
          .getItem(0).as("blk"))
    val got = TextOps.sortedNeighborhoodPairs(names, "blk", "p_name",
        w = 4, maxDist = 3)
      .orderBy("name1", "name2")
      .as[(String, String, Long)].collect().toSeq
    // sorted 'aa' block: blue, blues, blux, azure, banana, cream →
    // actually: "aa almond blue" < "aa almond blues" < "aa almond blux"
    // < "aa azure xx" < "aa banana yy" < "aa cream zz"
    assert(got.contains(("aa almond blue", "aa almond blues", 1L)))
    assert(got.contains(("aa almond blue", "aa almond blux", 1L)))
    assert(got.contains(("aa almond blues", "aa almond blux", 2L)))
    // cross-block pair (dist 3: frost→wheat is 4 edits — and different
    // blocks anyway) absent; every emitted pair is within dist 3
    assert(got.forall(_._3 <= 3))
    assert(!got.exists(p => p._1.startsWith("frost") || p._1.startsWith("wheat")))
    // candidate bound: at w=4 each name contributes at most 3 pairs
    assert(got.size <= names.count() * 3)
  }

  test("phraseSearch: exact consecutive matches only, with overlap counting") {
    val docs = Seq(
      (1L, "x a b c y a b c"),   // two hits, first at pos 1
      (2L, "a b x c"),           // words present but not consecutive
      (3L, "c b a"),             // reversed
      (4L, "a b c"),             // hit at 0
      (5L, "a a b c"))           // hit at 1 (anchor at 0 fails, 1 matches)
      .toDF("doc_id", "text")
    val got = TextOps.phraseSearch(docs, Seq("a", "b", "c"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (4L, 1L, 0L), (5L, 1L, 1L)))
  }

  test("lsh precision gate shape: fixed threshold grid, monotone pass counts") {
    // near-dup pair (1,2) must survive banding; (3) is unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sh = TextOps.shingleTable(docs, "doc_id")
    val cand = TextOps.minhashCandidates(sh, "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
    // exact ppm jaccard of the planted pair: shingle multisets share 7 of
    // 9 distinct 3-grams -> (7*1e6) div 9 = 777777 >= the 0.7 threshold
    val j = TextOps.jaccardVerify(cand.toSeq.toDF("id1", "id2"), sh, "doc_id",
      threshold = 0.0).as[(Long, Long, Double)].collect()
      .find(r => r._1 == 1L && r._2 == 2L).get._3
    assert(math.abs(j - 7.0 / 9.0) < 1e-12)
  }

  test("goodTuring: hand-checked count-of-counts smoothing") {
    // corpus "a a a b b c": N_1=N_2=N_3=1; r*(1)=2.0, r*(2)=3.0, r*(3)=NULL
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val got = TextOps.goodTuring(docs)
      .as[(Long, Long, Long, Option[Long])].collect().toSet
    assert(got == Set(
      (1L, 1L, 166666L, Some(2000000L)),
      (2L, 1L, 333333L, Some(3000000L)),
      (3L, 1L, 500000L, None)))
  }

  test("textrank: edge plumbing equals pageRank on the hand-built graph") {
    // "a b a b" -> edges a<->b (dups collapse); "b c" -> b<->c; "x x" is a
    // self pair (dropped); "solo" has no successor at all
    val docs = Seq((1L, "a b a b"), (2L, "b c"), (3L, "x x"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.textrank(docs, iters = 3, k = 10)
      .as[(String, Long)].collect().toSeq
    val sym = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("u", "v")
    val want = graft.operators.GraphOps.pageRank(sym, iters = 3)
      .as[(String, Long)].collect()
      .sortBy { case (n, r) => (-r, n) }.toSeq
    assert(got == want)
    assert(!got.exists(_._1 == "x") && !got.exists(_._1 == "solo"))
    // b has degree 2 -> strictly highest rank
    assert(got.head._1 == "b" && got.head._2 > got(1)._2)
  }

  test("pretokenizeReport: contraction/run/space semantics + multiset fp") {
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ']+| +"
    // hand-traced: it | 's | " 42" | " well" | - | known | !! | "  " | end
    val docs = Seq((1L, "en", "it's 42 well-known!!  end"),
      (2L, "en", "it it"), (3L, "fr", "42"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.pretokenizeReport(docs, pat)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // en doc 2 adds tokens "it", " it" -> totals 11, distinct 10
    assert(got("en")._2 == 11L && got("en")._3 == 10L)
    assert(got("fr")._2 == 1L && got("fr")._3 == 1L)
    // replicate the fingerprint fold for fr: one cell ("42", 1)
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    assert(got("fr")._4 == h60("42:1"))
    // en fingerprint: XOR over the ten (token, count) cells
    val enCells = Seq("it" -> 2, "'s" -> 1, " 42" -> 1, " well" -> 1,
      "-" -> 1, "known" -> 1, "!!" -> 1, "  " -> 1, "end" -> 1, " it" -> 1)
    assert(got("en")._4 ==
      enCells.map { case (t, c) => h60(s"$t:$c") }.reduce(_ ^ _))
  }

  test("skipgramPmi: +-2 window pairs, canonicalized, self-pairs dropped") {
    // "a b c": n1 pairs (a,b),(b,c); n2 pair (a,c); "x x" self-pair drops.
    // uni: a=b=c=1 (+x=2), n_uni=5; each pair ratio = (1*25e6) div (3*1*1)
    val docs = Seq((1L, "a b c"), (2L, "x x")).toDF("doc_id", "text")
    val got = TextOps.skipgramPmi(docs, minCount = 1, k = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    val r = 25000000L / 3L
    assert(got == Seq(("a", "b", 1L, r), ("a", "c", 1L, r), ("b", "c", 1L, r)))
  }

  test("bigramPerplexity: hand counts, two fallback tiers, JVM-exact costs") {
    // train (id 0): bigrams (x,y)x2, (y,x)x1 -> ca: x=2, y=1; V = |{x,y}| = 2
    // val (id 8, en): (x,y) seen; (y,z) unseen under seen head; (z,q) cold
    val docs = Seq((0L, "en", "x y x y"), (8L, "en", "x y z q"))
      .toDF("doc_id", "lang", "text")
    def mn(x: Double): Long = math.floor(-math.log(x) * 1e6 + 0.5).toLong
    val want = mn(3.0 / 4.0) + mn(1.0 / 3.0) + mn(1.0 / 2.0)
    val got = TextOps.bigramPerplexity(docs)
      .as[(String, Long, Long, Long)].head()
    assert(got == (("en", 3L, want, want / 3)))
  }

  test("bleuCorpus: hand-counted clipping and brevity penalty") {
    // pair (0,1): cand "the the cat" vs ref "the cat sat" ->
    //   clip1 = min(2,1)+min(1,1) = 2 of 3; clip2 = 1 ("the cat") of 2
    // pair (2,3): cand "a b" vs ref "a b c d" -> clip1 += 2 of 2,
    //   clip2 += 1 of 1; corpus lens ref 7, cand 5 -> BP = e^(1-7/5)
    val docs = Seq((0L, "the cat sat"), (1L, "the the cat"),
      (2L, "a b c d"), (3L, "a b")).toDF("doc_id", "text")
    val got = TextOps.bleuCorpus(docs)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    val want = math.floor(1e6 * math.exp(1.0 - 7.0 / 5.0)
      * math.sqrt((4.0 / 5.0) * (2.0 / 3.0)) + 0.5).toLong
    assert(got == ((7L, 5L, 4L, 5L, 2L, 3L, 800000L, 666666L, want)))
  }

  test("bleuCorpus: zero candidate mass reports NULL, never divides") {
    // only even (reference) doc ids -> tot1 = tot2 = 0: the documented
    // zero-mass path must emit NULLs, not an ANSI DIVIDE_BY_ZERO
    val docs = Seq((0L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    val r = TextOps.bleuCorpus(docs).collect().head
    assert(r.getLong(0) == 5L)            // ref_tokens
    assert(r.getLong(1) == 0L)            // cand_tokens: 0 like the oracle's
                                          // sum(CASE..ELSE 0), not NULL
    assert(r.getLong(2) == 0L && r.getLong(3) == 0L) // clip1, tot1
    assert(r.isNullAt(6) && r.isNullAt(7) && r.isNullAt(8)) // p1, p2, bleu
  }

  test("kneserNey: empty val split yields an empty frame, not a crash") {
    // every doc id trains (id % 10 < 8) -> no val bigrams anywhere
    val docs = Seq((0L, "en", "x y"), (1L, "en", "y x"))
      .toDF("doc_id", "lang", "text")
    assert(TextOps.kneserNey(docs).count() == 0L)
  }

  test("kneserNey: hand counts hit all three tiers with exact rational costs") {
    // train (id 0): "x y x y x" -> cab (x,y)=2, (y,x)=2; B=2;
    //   heads: ca(x)=ca(y)=2, n1a=1 each; conts: n1b(x)=n1b(y)=1
    // val (id 8): (x,y) SEEN  p = ((2*2-1)*2 + 1*1)/(2*2*2) = 7/8
    //             (y,y) CONT  p = (1*1)/(2*2*2)             = 1/8
    // val (id 9): (z,q) BACKOFF p = 1/B                     = 1/2
    val docs = Seq((0L, "en", "x y x y x"), (8L, "en", "x y y"),
      (9L, "en", "z q")).toDF("doc_id", "lang", "text")
    def mn(x: Double): Long = math.floor(-math.log(x) * 1e6 + 0.5).toLong
    val want = mn(7.0 / 8.0) + mn(1.0 / 8.0) + mn(1.0 / 2.0)
    val got = TextOps.kneserNey(docs)
      .as[(String, Long, Long, Long, Long, Long, Long)].head()
    assert(got == (("en", 3L, 1L, 1L, 1L, want, want / 3)))
  }

  test("naiveBayes: disjoint vocab separates; unseen tie breaks to asc class") {
    // train (id % 10 < 8): four "aa" docs of {x, y}, four "bb" docs of
    // {z, w} -> V = 4, tc = 12 for both classes, equal priors.
    val train = (0 until 8).map(i =>
      if (i % 2 == 0) (i.toLong, "aa", "x x y") else (i.toLong, "bb", "z z w"))
    val vals = Seq(
      (8L, "aa", "x y x"),   // seen aa vocab -> aa
      (9L, "bb", "z w"),     // seen bb vocab -> bb
      (18L, "aa", "z z z"),  // bb vocab under an aa label -> confusion cell
      (19L, "bb", "q q"))    // fully unseen -> exact tie -> asc class "aa"
    val got = TextOps.naiveBayes((train ++ vals).toDF("doc_id", "lang", "text"))
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("aa", "aa", 1L), ("aa", "bb", 1L),
      ("bb", "aa", 1L), ("bb", "bb", 1L)))
  }

  /** Plain-Scala replay of the WHOLE unigramSegment law (the dsirSelect
    * spec discipline): tokenize, count words, derive the char + top-K
    * substring vocabulary, micro-nat costs, then exact Viterbi. */
  private def unigramReference(texts: Seq[String], topPieces: Int,
                               topWords: Int, maxPieceLen: Int,
                               maxWordLen: Int): Seq[(String, Long, Long)] = {
    val words = texts.flatMap(_.split(" "))
      .filter(w => w.length >= 2 && w.length <= maxWordLen)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def subCounts(lo: Int, hi: Int): Map[String, Long] =
      words.toSeq.flatMap { case (w, c) =>
        for {
          l <- lo to hi
          s <- 0 to w.length - l
        } yield (w.substring(s, s + l), c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val chars = subCounts(1, 1)
    val multi = subCounts(2, maxPieceLen).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(topPieces)
    val vocab = chars.toSeq ++ multi
    val total = vocab.map(_._2).sum.toDouble
    val cost = vocab.map { case (p, c) =>
      p -> math.floor(-math.log(c / total) * 1e6 + 0.5).toLong }.toMap
    val Big = 1000000000000L
    def viterbi(w: String): Long = {
      val dp = Array.fill(w.length + 1)(Big); dp(0) = 0L
      for (i <- 1 to w.length; l <- 1 to math.min(maxPieceLen, i)) {
        val c = cost.getOrElse(w.substring(i - l, i), Big)
        if (dp(i - l) + c < dp(i)) dp(i) = dp(i - l) + c
      }
      dp(w.length)
    }
    words.toSeq.sortBy { case (w, c) => (-c, w) }.take(topWords)
      .map { case (w, c) => (w, c, viterbi(w)) }.sortBy(_._1)
  }

  test("unigramSegment equals the plain-Scala whole-law replay") {
    val texts = Seq(
      "abab abab cdcd ababcd xyz",
      "abab zq zq ababab cdcd cd cd",
      "wxyz abcdab cdab zq abab")
    val got = TextOps.unigramSegment(texts.toDF("text"), topPieces = 4,
        topWords = 10, maxPieceLen = 3, maxWordLen = 8)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val exp = unigramReference(texts, 4, 10, 3, 8)
    assert(got == exp, s"got $got\nexp $exp")
  }

  test("unigramSegment: Viterbi beats greedy longest-match where they differ") {
    // corpus tuned so 'bc' is frequent but 'ab' never makes the top-K:
    // for the word "abc", greedy longest-match from the left would try
    // ab|c; the min-cost segmentation is a|bc. The DP must land on a+bc.
    val texts = Seq("abc bcbc bcbc bcbc aa aa aa")
    val got = TextOps.unigramSegment(texts.toDF("text"), topPieces = 2,
        topWords = 10, maxPieceLen = 3, maxWordLen = 8)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    // reference costs: chars a/b/c and top-2 multis {bc, aa}
    val exp = unigramReference(texts, 2, 10, 3, 8).map(r => r._1 -> r._3).toMap
    assert(got == exp)
    // the a|bc path is strictly cheaper than a|b|c (the all-chars path):
    // optimality is visible, not vacuous
    val counts = Map("a" -> 7L, "b" -> 7L, "c" -> 7L, "bc" -> 7L, "aa" -> 3L)
    val tot = counts.values.sum.toDouble
    def c(p: String) = math.floor(-math.log(counts(p) / tot) * 1e6 + 0.5).toLong
    assert(got("abc") == c("a") + c("bc"))
    assert(got("abc") < c("a") + c("b") + c("c"))
  }
}
