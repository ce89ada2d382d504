package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-4 curation additions: decontamination, sliding chunks,
  * per-group caps, sketch gates, and the Catalyst extensions. */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------- exact-substring spans

  test("duplicateSpans: cross-doc shared run merges to one maximal " +
      "span per doc; within-doc repetition counts; unique docs emit " +
      "nothing") {
    val docs = Seq(
      (1L, "a b c d e x1 x2 x3"),     // shares "a b c d e" with doc 2
      (2L, "y1 a b c d e y2"),
      (3L, "p q r s p q r s"),        // internal repetition
      (4L, "u1 u2 u3 u4 u5 u6 u7"),   // all unique
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", l = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // doc 1: anchors at 1,2,3 (abc/bcd/cde) merge to tokens [1,6)
    // doc 2: the same grams at 2,3,4 -> [2,7)
    // doc 3: pqr@{1,5}, qrs@{2,6} are corpus-duplicated; anchors
    //   1,2,5,6 chain (5 <= 2+3) into ONE span [1,9) — the whole doc
    assert(out == Set((1L, 1L, 6L, 5L), (2L, 2L, 7L, 5L),
      (3L, 1L, 9L, 8L)))
  }

  test("duplicateSpans: non-adjacent duplicated anchors stay separate " +
      "spans; minFreq raises the duplication bar") {
    val docs = Seq(
      (1L, "a b c z1 z2 z3 z4 a b c"), // two separated copies
      (2L, "a b c w1 w2"),
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", l = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // doc1 anchors 1 and 8: 8 > 1+3 -> two spans [1,4) and [8,11)
    assert(out == Set((1L, 1L, 4L), (1L, 8L, 11L), (2L, 1L, 4L)))
    // "a b c" occurs 3 times corpus-wide; minFreq = 4 silences it
    assert(Dedup.duplicateSpans(docs, "doc_id", "text", l = 3,
      minFreq = 4L).count() == 0L)
  }

  // ---------------------------------------------------- decontamination

  test("decontaminate drops exactly the docs sharing an n-gram") {
    val bench = Seq((100L, "the quick brown fox jumps over")).toDF("id", "text")
    val docs = Seq(
      (1L, "xx the quick brown fox yy"),         // shares the 4-gram
      (2L, "completely different words here"),   // clean
      (3L, "quick brown fox jumps elsewhere"),   // shares another 4-gram
      (4L, "the quick brown"),                   // only 3 words — no 4-gram
    ).toDF("id", "text")
    val flagged = Decontamination
      .flagContaminated(docs, bench, "id", "text", "text", n = 4)
      .select($"id", $"n_hits", $"contaminated")
      .as[(Long, Long, Boolean)].collect()
      .map { case (k, h, c) => k -> ((h, c)) }.toMap
    assert(flagged(1L) == ((1L, true)))
    assert(flagged(2L) == ((0L, false)))
    assert(flagged(3L) == ((1L, true)))
    assert(flagged(4L) == ((0L, false)))
    val kept = Decontamination
      .decontaminate(docs, bench, "id", "text", "text", n = 4)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
  }

  test("contamination hit count is distinct shared grams") {
    val bench = Seq((1L, "a b c d e")).toDF("id", "text")
    // doc shares "a b c" and "b c d" and "c d e" → 3 distinct 3-grams,
    // and repeats "a b c" twice — distinctness keeps hits at 3
    val docs = Seq((7L, "a b c d e x a b c")).toDF("id", "text")
    val hits = Decontamination
      .contaminationHits(docs, bench, "id", "text", "text", n = 3)
      .as[(Long, Long)].collect().toMap
    assert(hits(7L) == 3L)
  }

  test("exciseContaminatedLines drops only lines sharing a bench gram; " +
      "full contamination collapses to empty") {
    val bench = Seq((0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    val docs = Seq(
      (1L, "clean opening line here\n" +
        "the quick brown fox jumps over the lazy dog indeed\n" +
        "short tail"),
      (2L, "totally unrelated words in every line\nanother clean line"),
      (3L, "the quick brown fox jumps over the lazy dog"), // all bad
    ).toDF("id", "text")
    val out = Decontamination.exciseContaminatedLines(
        docs.unionByName(Seq((4L, null.asInstanceOf[String]))
          .toDF("id", "text")),
        bench, "id", "text", "text", n = 8)
      .select($"id", $"clean_text", $"n_lines_kept", $"n_lines_excised")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("clean opening line here\nshort tail", 2L, 1L)))
    assert(out(2L) == (("totally unrelated words in every line\n" +
      "another clean line", 2L, 0L)))
    assert(out(3L) == (("", 0L, 1L)))
    // null text == empty text: one (kept) empty line, nothing excised
    assert(out(4L) == (("", 1L, 0L)))
  }

  // ---------------------------------------------------- sliding chunks

  test("sliding chunks cover every token with the promised overlap") {
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    // max 4, overlap 1 → stride 3 → chunks at 1, 4, 7 (last = t7..t10)
    val out = Packing.slidingChunks(docs, "id", "text", maxTokens = 4, overlap = 1)
      .orderBy($"chunk_idx")
      .select($"chunk_idx", $"chunk_text", $"chunk_tokens")
      .as[(Int, String, Int)].collect()
    assert(out.map(_._1).toSeq == Seq(0, 1, 2))
    assert(out(0)._2 == "t1 t2 t3 t4")
    assert(out(1)._2 == "t4 t5 t6 t7")
    assert(out(2)._2 == "t7 t8 t9 t10")
    assert(out.forall(_._3 == 4))
  }

  test("short doc yields one whole-doc chunk; tail chunk may be short") {
    val docs = Seq((1L, "a b"), (2L, "a b c d e")).toDF("id", "text")
    val out = Packing.slidingChunks(docs, "id", "text", maxTokens = 4, overlap = 2)
      .select($"id", $"chunk_idx", $"chunk_tokens")
      .as[(Long, Int, Int)].collect().toSet
    // id=1: one chunk of 2 tokens; id=2: stride 2 → chunks at 1 (4 toks)
    // and 3 (3 toks: c d e)
    assert(out == Set((1L, 0, 2), (2L, 0, 4), (2L, 1, 3)))
  }

  // ---------------------------------------------------- per-group cap

  test("capPerGroup keeps at most cap rows, deterministically") {
    val rows = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("key", "grp")
    val once = Sampling.capPerGroup(rows, "grp", "key", cap = 10, seed = "s1")
    val counts = once.groupBy($"grp").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 10L))
    // identical picks on re-run and at different parallelism
    val again = Sampling
      .capPerGroup(rows.repartition(7), "grp", "key", cap = 10, seed = "s1")
    assert(once.select($"key").as[Long].collect().toSet ==
      again.select($"key").as[Long].collect().toSet)
    // different seed → different picks (with overwhelming probability)
    val other = Sampling.capPerGroup(rows, "grp", "key", cap = 10, seed = "s2")
    assert(once.select($"key").as[Long].collect().toSet !=
      other.select($"key").as[Long].collect().toSet)
  }

  test("groups under the cap survive whole") {
    val rows = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("key", "grp")
    val out = Sampling.capPerGroup(rows, "grp", "key", cap = 5, seed = "s")
    assert(out.count() == 3)
  }

  test("stratifiedSplit holds exact per-stratum quotas; hashSplit only binomial") {
    // 3 strata of very different sizes — each must land within one row
    // of 80/10/10
    val rows = ((1L to 200L).map((_, "en")) ++ (201L to 250L).map((_, "de"))
      ++ (251L to 260L).map((_, "es"))).toDF("key", "lang")
    val out = Sampling.stratifiedSplit(rows, "lang", "key", "s42")
    val counts = out.groupBy($"lang", $"split").count()
      .as[(String, String, Long)].collect()
      .map { case (l, s, n) => (l, s) -> n }.toMap
    assert(counts(("en", "train")) == 160 && counts(("en", "val")) == 20 &&
      counts(("en", "test")) == 20)
    assert(counts(("de", "train")) == 40 && counts(("de", "val")) == 5 &&
      counts(("de", "test")) == 5)
    assert(counts(("es", "train")) == 8 && counts(("es", "val")) == 1 &&
      counts(("es", "test")) == 1)
    // deterministic across partitioning
    val again = Sampling.stratifiedSplit(rows.repartition(7), "lang", "key", "s42")
    assert(out.select($"key", $"split").as[(Long, String)].collect().toSet ==
      again.select($"key", $"split").as[(Long, String)].collect().toSet)
  }

  test("stratifiedSplit rejects unusable fractions loudly") {
    val rows = Seq((1L, "en"), (2L, "en")).toDF("key", "lang")
    // below per-mille resolution → would silently starve the split
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(rows, "lang", "key", "s",
        Seq("a" -> 0.9995, "b" -> 0.0005))
    }
    // non-positive
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(rows, "lang", "key", "s",
        Seq("a" -> 1.0, "b" -> 0.0))
    }
    // sum > 1 → later splits unreachable
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSplit(rows, "lang", "key", "s",
        Seq("a" -> 0.8, "b" -> 0.3))
    }
  }

  test("stripBoilerplateLines drops only over-frequent lines, keeps order") {
    val docs = Seq(
      (1L, "HEADER\nunique one\nFOOTER"),
      (2L, "HEADER\nunique two\nFOOTER"),
      (3L, "HEADER\nFOOTER"),          // pure chrome → empty
      (4L, "solo line"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplateLines(docs, "doc_id", "text",
        maxDocFreq = 2L)
      .select($"doc_id", $"clean_text", $"n_lines_kept", $"n_lines_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // HEADER/FOOTER appear in 3 docs > maxDocFreq=2 → stripped
    assert(out(1L) == (("unique one", 1L, 2L)))
    assert(out(2L) == (("unique two", 1L, 2L)))
    assert(out(3L) == (("", 0L, 2L)))
    assert(out(4L) == (("solo line", 1L, 0L)))
  }

  test("stripBoilerplateLines: frequency AT the cap survives, order is " +
      "original line order not sort order") {
    val docs = Seq(
      (1L, "zeta\nalpha\nmid"),
      (2L, "zeta\nalpha"),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplateLines(docs, "doc_id", "text",
        maxDocFreq = 2L)
      .select($"doc_id", $"clean_text").as[(Long, String)].collect().toMap
    // df(zeta)=df(alpha)=2 == cap → kept; zeta stays FIRST
    assert(out(1L) == "zeta\nalpha\nmid")
    assert(out(2L) == "zeta\nalpha")
  }

  test("dedupDocLines: later repeats drop, blanks and short lines always " +
      "survive, order preserved") {
    val docs = Seq(
      (1L, "nav\nbody one\n\nnav\nbody one\n\ntail"),
      (2L, "only\nonly"),
      (3L, ""),             // one empty line, kept (blank rule)
      (4L, null.asInstanceOf[String]), // null text == empty text
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupDocLines(docs, "doc_id", "text")
      .select($"doc_id", $"clean_text", $"n_lines", $"n_removed")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // both blank separators kept, second nav/body dropped
    assert(out(1L) == (("nav\nbody one\n\n\ntail", 7L, 2L)))
    assert(out(2L) == (("only", 2L, 1L)))
    assert(out(3L) == (("", 1L, 0L)))
    assert(out(4L) == (("", 0L, 0L)))
  }

  test("dedupDocLines: minLen guards short structural lines from dedup") {
    val docs = Seq((1L, "- a -\n--\nx\n--\n- a -")).toDF("doc_id", "text")
    // minLen=3: "--" (len 2) always kept even though repeated; the
    // 5-char lines dedup normally
    val out = TextAnalysis.dedupDocLines(docs, "doc_id", "text", minLen = 3)
      .select($"clean_text").as[String].collect().head
    assert(out == "- a -\n--\nx\n--")
  }

  test("corpusDiff classifies added/removed/changed/unchanged; null " +
      "text hashes like empty") {
    val oldSnap = Seq((1L, "same"), (2L, "before"), (3L, "gone"),
      (5L, null.asInstanceOf[String])).toDF("id", "text")
    val newSnap = Seq((1L, "same"), (2L, "after"), (4L, "fresh"),
      (5L, "")).toDF("id", "text")
    val out = Dedup.corpusDiff(oldSnap, newSnap, "id", "text")
      .select($"id", $"status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"))
  }

  test("topKPerGroupAgg == window top-k on random scores, any " +
      "partitioning; ties break by key; loud on null/NaN") {
    val rows = (1L to 300L).map(i => (i, s"g${i % 4}", (i * 37) % 97))
      .toDF("key", "grp", "sc")
    def viaAgg(d: org.apache.spark.sql.DataFrame) =
      Sampling.topKPerGroupAgg(d, "grp", "key", $"sc", k = 5)
        .select($"grp", $"key", $"group_rank")
        .as[(String, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"grp").orderBy($"sc".desc, $"key".asc)
    val viaWindow = rows
      .withColumn("group_rank", row_number().over(w).cast("long"))
      .filter($"group_rank" <= 5)
      .select($"grp", $"key", $"group_rank")
      .as[(String, Long, Long)].collect().toSet
    assert(viaAgg(rows) == viaWindow)
    assert(viaAgg(rows.repartition(11)) == viaWindow)
    // group smaller than k: emits all its rows, ranked
    val tiny = Seq((1L, "a", 5), (2L, "a", 9)).toDF("key", "grp", "sc")
    assert(viaAgg(tiny) == Set(("a", 2L, 1L), ("a", 1L, 2L)))
    // null score rejected loudly
    val bad = Seq((1L, "a", null.asInstanceOf[java.lang.Integer]))
      .toDF("key", "grp", "sc")
    intercept[org.apache.spark.SparkException] {
      Sampling.topKPerGroupAgg(bad, "grp", "key", $"sc", 2).collect()
    }
  }

  test("sourceOverlapSketch: identical sources estimate 1.0 exactly, " +
      "disjoint sources near zero, partial overlap lands near exact") {
    val mk = (src: String, texts: Seq[String]) =>
      texts.zipWithIndex.map { case (t, i) => (s"$src-$i", src, t) }
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = (
      mk("a", Seq(shared)) ++
      mk("b", Seq(shared)) ++                       // b == a
      mk("c", Seq("one two three four five six seven eight nine ten")) ++
      mk("d", Seq(shared, "one two three four five six seven eight nine ten"))
    ).toDF("doc_id", "source", "text")
    val est = Dedup.sourceOverlapSketch(docs, "source", "text", n = 3)
      .select($"src_a", $"src_b", $"est_jaccard")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est(("a", "b")) == 1.0)                  // same union set
    assert(est(("a", "c")) < 0.1)                   // disjoint grams
    // d = a's grams (6) ∪ c's grams (8); J(a,d) = 6/14, J(c,d) = 8/14
    assert(math.abs(est(("a", "d")) - 6.0 / 14.0) < 0.2)
    assert(math.abs(est(("c", "d")) - 8.0 / 14.0) < 0.2)
  }

  test("encodingSignals: replacement, control, and mojibake counts with " +
      "clean text and null text scoring zero") {
    val docs = Seq(
      (1L, "ab\uFFFDc\u0001 \u00C3\u00A9"), // one of each signature
      (2L, "plain clean text"),
      (3L, "tabs\tand\nnewlines are fine"), // \t \n NOT control-flagged
      (4L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.encodingSignals(docs, "doc_id", "text")
      .select($"doc_id", $"n_chars", $"n_replacement", $"n_control",
        $"n_mojibake", $"bad_ratio")
      .as[(Long, Int, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 8, 1L, 1L, 1L, 3.0 / 8.0)))
    assert(out(2L) == ((2L, 16, 0L, 0L, 0L, 0.0)))
    assert(out(3L)._4 == 0L && out(3L)._6 == 0.0)
    assert(out(4L) == ((4L, 0, 0L, 0L, 0L, 0.0)))
  }

  test("leakageFreeSplit: cluster members share split_key and split, " +
      "singletons key by their own id") {
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Sampling.leakageFreeSplit(docs, "doc_id", pairs, "s7")
      .select($"doc_id", $"split_key", $"split")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(Seq(1L, 2L, 3L).map(out(_)._1).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(out(_)._2).distinct.size == 1)
    assert(Seq(5L, 6L).map(out(_)._1).distinct == Seq(5L))
    assert(Seq(5L, 6L).map(out(_)._2).distinct.size == 1)
    assert(out(4L)._1 == 4L)
    // the representative's split is exactly hashSplit of the key itself
    val solo = Sampling.hashSplit(Seq(1L).toDF("k"), "k", "s7")
      .select($"split").as[String].collect().head
    assert(out(1L)._2 == solo)
  }

  test("ngramDiversity: hand-computed ratios per scope, ALL row, short " +
      "docs emit no high-n rows") {
    val docs = Seq((1L, "x", "a b a"), (2L, "y", "a b"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.ngramDiversity(docs, "text", Some("source"))
      .select($"scope", $"n", $"total_grams", $"distinct_grams", $"diversity")
      .as[(String, Int, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out(("x", 1)) == ((3L, 2L, 2.0 / 3.0)))
    assert(out(("x", 2)) == ((2L, 2L, 1.0)))   // "a b", "b a"
    assert(out(("x", 3)) == ((1L, 1L, 1.0)))
    assert(out(("y", 1)) == ((2L, 2L, 1.0)))
    assert(out(("y", 2)) == ((1L, 1L, 1.0)))
    assert(!out.contains(("y", 3)))            // doc shorter than n
    assert(out(("ALL", 1)) == ((5L, 2L, 0.4)))
    assert(out(("ALL", 2)) == ((3L, 2L, 2.0 / 3.0)))
    assert(out(("ALL", 3)) == ((1L, 1L, 1.0)))
    // ungrouped form: only the ALL rows
    val flat = TextAnalysis.ngramDiversity(docs, "text", None)
      .select($"scope").distinct().as[String].collect().toSeq
    assert(flat == Seq("ALL"))
  }

  test("mixToBudget: capped sources survive whole, heavy sources thin " +
      "deterministically, weights validated") {
    val rows = (1L to 200L).map { i =>
      (i, if (i <= 40) "small" else "big", "t " * 9 + "t")  // 10 tokens each
    }.toDF("doc_id", "source", "text")
    // budget 1000 tokens: small weighted 500‰ → target 500 ≥ its 400
    // tokens → rate 1000 (kept whole); big 100‰ → target 100 of 1600
    // tokens → rate 62‰
    val out = Sampling.mixToBudget(rows, "source", "doc_id",
      TextAnalysis.tokenCount(col("text")), budgetTokens = 1000L,
      weightsPermille = Map("small" -> 500L), defaultPermille = 100L,
      seed = "mx")
    val bySrc = out.groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    assert(bySrc("small") == 40L)           // rate capped at 1000‰
    assert(bySrc.getOrElse("big", 0L) < 40L) // strongly downsampled
    val rates = out.select($"source", $"rate_permille").distinct()
      .as[(String, Long)].collect().toMap
    assert(rates("small") == 1000L && rates("big") == 62L)
    // deterministic under repartitioning
    val again = Sampling.mixToBudget(rows.repartition(7), "source", "doc_id",
      TextAnalysis.tokenCount(col("text")), 1000L,
      Map("small" -> 500L), 100L, "mx")
    assert(out.select($"doc_id").as[Long].collect().sorted.toSeq ==
      again.select($"doc_id").as[Long].collect().sorted.toSeq)
    intercept[IllegalArgumentException] {
      Sampling.mixToBudget(rows, "source", "doc_id", lit(1), 0L,
        Map.empty, 100L, "mx")
    }
    intercept[IllegalArgumentException] {
      Sampling.mixToBudget(rows, "source", "doc_id", lit(1), 10L,
        Map("x" -> -1L), 100L, "mx")
    }
  }

  test("topFractionPerGroup: floor per-mille cut per group, ties by key, " +
      "small groups keep zero") {
    // group a: 8 rows scores 1..8; group b: 3 rows — 250‰ keeps
    // floor semantics: a keeps ranks 1-2 (2*1000 <= 8*250), b keeps 0
    val rows = ((1 to 8).map(i => ("a", i.toLong, i.toDouble)) ++
      (1 to 3).map(i => ("b", 100L + i, i.toDouble)))
      .toDF("src", "id", "score")
    val out = Sampling.topFractionPerGroup(rows, "src", "id",
        col("score"), 250L)
      .select($"src", $"id", $"group_rank").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._3))
    assert(out.toSeq == Seq(("a", 8L, 1L), ("a", 7L, 2L)))
    // tie on score → key asc wins the better rank
    val tied = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 5.0),
      ("a", 4L, 5.0)).toDF("src", "id", "score")
    val t = Sampling.topFractionPerGroup(tied, "src", "id", col("score"),
        250L).select($"id").as[Long].collect()
    assert(t.toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      Sampling.topFractionPerGroup(tied, "src", "id", col("score"), 0L)
    }
  }

  test("sampleExact: exactly n rows, deterministic across partitioning, " +
      "seed changes the draw") {
    val ids = spark.range(5000).toDF("id")
    val a = Sampling.sampleExact(ids, "id", 100L, "s1")
      .select($"id", $"sample_rank").as[(Long, Long)].collect()
    assert(a.length == 100)
    assert(a.map(_._2).sorted.toSeq == (0L until 100L))
    val b = Sampling.sampleExact(ids.repartition(13), "id", 100L, "s1")
      .select($"id", $"sample_rank").as[(Long, Long)].collect()
    assert(a.toSet == b.toSet)
    val c = Sampling.sampleExact(ids, "id", 100L, "s2")
      .select($"id").as[Long].collect().toSet
    assert(c != a.map(_._1).toSet)
    // n larger than the table → the whole table
    assert(Sampling.sampleExact(ids.limit(7), "id", 100L, "s1").count() == 7)
  }

  test("weightedSampleExact: exact n, deterministic across partitioning, " +
      "heavier rows overrepresented, bad weights fail loudly") {
    val rows = spark.range(4000)
      .select($"id", when($"id" < 2000L, 1L).otherwise(50L).as("w"))
    val a = Sampling.weightedSampleExact(rows, "id", col("w"), 200L, "es1")
      .select($"id", $"w", $"sample_rank").as[(Long, Long, Long)].collect()
    assert(a.length == 200)
    assert(a.map(_._3).sorted.toSeq == (0L until 200L))
    val b = Sampling
      .weightedSampleExact(rows.repartition(17), "id", col("w"), 200L, "es1")
      .select($"id", $"w", $"sample_rank").as[(Long, Long, Long)].collect()
    assert(a.toSet == b.toSet)
    // weight-50 rows should dominate a weight-1 population of equal size:
    // P(pick light) per slot ≈ 1/51 — expect ≪ 30 lights in 200
    val lights = a.count(_._2 == 1L)
    assert(lights < 30, s"expected heavy rows to dominate, got $lights lights")
    // n larger than the table → the whole table
    assert(Sampling.weightedSampleExact(
      rows.limit(9), "id", col("w"), 100L, "es1").count() == 9)
    // a null/zero weight is a broken upstream score — loud, not dropped
    val withZero = spark.range(10)
      .select($"id", when($"id" === 5L, 0L).otherwise(1L).as("w"))
    val e = intercept[Exception] {
      Sampling.weightedSampleExact(withZero, "id", col("w"), 3L, "es1")
        .count()
    }
    assert(e.getMessage != null)
  }

  test("robustScaleByGroup: lower-median/MAD math, zero-MAD group " +
      "yields null z, null group survives") {
    val rows = (Seq((1L, Some("a")), (2L, Some("a")), (3L, Some("a")),
      (4L, Some("a")), (5L, Some("a"))) ++
      Seq((7L, Some("b")), (7L, Some("b")), (7L, Some("b"))) ++
      Seq((10L, None), (20L, None)))
      .zipWithIndex.map { case ((v, g), i) => (i.toLong, g, v) }
      .toDF("id", "src", "v")
    val out = Scoring.robustScaleByGroup(rows, "src", "v")
      .select($"id", $"src", $"v", $"med", $"mad", $"robust_z")
      .as[(Long, Option[String], Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    // group a: values 1..5 → med 3 (rank ceil(2.5)=3), adevs sorted
    // [0,1,1,2,2] → mad 1; z = v − 3
    assert(out(0L)._6.contains(-2.0) && out(4L)._6.contains(2.0))
    assert(out(2L)._4 == 3L && out(2L)._5 == 1L)
    // group b: constant → mad 0 → null z (not a division blow-up)
    assert(out(5L)._5 == 0L && out(5L)._6.isEmpty)
    // null group is its own stratum: med of [10,20] = 10 (lower
    // median), mad = median of [0,10] = 0 → null z, rows present
    assert(out(8L)._4 == 10L && out(8L)._6.isEmpty && out(9L)._4 == 10L)
  }

  test("mixToBudget: NULL-source rows form their own stratum at the " +
      "default rate instead of vanishing") {
    val rows = (1L to 60L).map { i =>
      (i, if (i <= 30) Some("web") else None, "t " * 9 + "t") // 10 tokens
    }.toDF("doc_id", "source", "text")
    // budget huge → every rate caps at 1000‰: ALL rows survive,
    // including the 30 with a null source (an equi-join would drop them)
    val out = Sampling.mixToBudget(rows, "source", "doc_id",
      TextAnalysis.tokenCount(col("text")), budgetTokens = 100000L,
      weightsPermille = Map("web" -> 500L), defaultPermille = 500L,
      seed = "mx")
    assert(out.count() == 60L)
    assert(out.filter($"source".isNull).count() == 30L)
    // and the null stratum thins by ITS OWN rate under a tight budget
    val tight = Sampling.mixToBudget(rows, "source", "doc_id",
      TextAnalysis.tokenCount(col("text")), budgetTokens = 200L,
      weightsPermille = Map.empty, defaultPermille = 500L, seed = "mx")
    val nullRate = tight.filter($"source".isNull)
      .select($"rate_permille").distinct().as[Long].collect()
    assert(nullRate.length == 1 && nullRate.head < 1000L)
  }

  test("bigramFamiliarity: shared transitions score above unique ones, " +
      "degenerate docs score null") {
    val docs = Seq(
      (1L, "the cat sat"), // "the cat" df=2, "cat sat" df=1 → 1.5
      (2L, "the cat ran"), // "the cat" df=2, "cat ran" df=1 → 1.5
      (3L, "zz qq"),       // unique bigram → 1.0
      (4L, "solo"),        // no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramFamiliarity(docs, "doc_id", "text")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((2L, Some(1.5))))
    assert(out(2L) == ((2L, Some(1.5))))
    assert(out(3L) == ((1L, Some(1.0))))
    assert(out(4L) == ((0L, None)))
  }

  test("buildVocab: df prune, frequency rank, deterministic ties, " +
      "dense truncated ids") {
    val docs = Seq(
      (1L, "aa bb aa cc"),
      (2L, "aa bb dd"),
      (3L, "aa bb"),
    ).toDF("doc_id", "text")
    // tf: aa=4 bb=3 cc=1 dd=1; df: aa=3 bb=3 cc=1 dd=1
    val out = TextAnalysis.buildVocab(docs, "doc_id", "text", minDf = 2L)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4)
    assert(out.toSeq == Seq(("aa", 4L, 3L, 0L), ("bb", 3L, 3L, 1L)))
    // tie on tf → token asc; maxVocab truncates densely
    val tied = TextAnalysis.buildVocab(
      Seq((1L, "zz yy xx")).toDF("doc_id", "text"), "doc_id", "text",
      minDf = 1L, maxVocab = 2)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4)
    assert(tied.toSeq == Seq(("xx", 1L, 1L, 0L), ("yy", 1L, 1L, 1L)))
  }

  test("bloom-prefiltered decontamination equals the exact path on real " +
      "docs — false positives never reach the output") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val exact = Decontamination.contaminationHits(
      corpus, bench, "doc_id", "text", "text", n = 8)
      .as[(Long, Long)].collect().toSet
    // high fpp on purpose: plenty of bloom false positives, yet the
    // exact join must strip them all
    val bloom = Decontamination.contaminationHitsBloom(
      corpus, bench, "doc_id", "text", "text", n = 8, fpp = 0.3)
      .as[(Long, Long)].collect().toSet
    assert(bloom == exact)
    assert(exact.nonEmpty)
  }

  test("deflateRatio: repetitive text compresses below prose, noise " +
      "above it; empty text scores 0; deterministic") {
    val docs = Seq(
      (1L, Some("the quick brown fox jumps over the lazy dog near the river")),
      (2L, Some("spam " * 200)),
      (3L, Some(new scala.util.Random(42).alphanumeric.take(1000).mkString)),
      (4L, Some("")),
      (5L, None), // null text scores like empty, not an NPE
    ).toDF("doc_id", "text")
    val out = TextAnalysis.deflateRatio(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(2L)._4 < out(1L)._4, "repetition must compress better")
    assert(out(3L)._4 > out(2L)._4, "noise must compress worse")
    assert(out(4L) == ((4L, 0L, 0L, 0.0)))
    assert(out(5L) == ((5L, 0L, 0L, 0.0)))
    assert(out(1L)._2 == 58L) // raw UTF-8 byte count
    // stable across partitioning (one Deflater per partition, reset per doc)
    val again = TextAnalysis.deflateRatio(docs.repartition(3), "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("encodeTokens: ids in document order, OOV sentinel, counts") {
    val docs = Seq(
      (1L, "aa bb aa cc"),
      (2L, "aa bb dd"),
      (3L, "aa bb"),
    ).toDF("doc_id", "text")
    // minDf=2 → vocab: aa(tf 4)->0, bb(tf 3)->1; cc/dd are OOV
    val vocab = TextAnalysis.buildVocab(docs, "doc_id", "text", minDf = 2L)
    val out = TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab)
      .as[(Long, Seq[Long], Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((Seq(0L, 1L, 0L, -1L), 4L, 1L)))
    assert(out(2L) == ((Seq(0L, 1L, -1L), 3L, 1L)))
    assert(out(3L) == ((Seq(0L, 1L), 2L, 0L)))
    // custom OOV id flows through
    val out2 = TextAnalysis
      .encodeTokens(docs, "doc_id", "text", vocab, oovId = -100L)
      .filter($"doc_id" === 1L)
      .select($"token_ids").as[Seq[Long]].collect().head
    assert(out2 == Seq(0L, 1L, 0L, -100L))
    // null text encodes like an empty doc, not an NPE
    val withNull = Seq((9L, Option.empty[String])).toDF("doc_id", "text")
    val nullOut = TextAnalysis.encodeTokens(withNull, "doc_id", "text", vocab)
      .as[(Long, Seq[Long], Long, Long)].collect().head
    assert(nullOut == ((9L, Seq.empty[Long], 0L, 0L)))
  }

  test("stripBoilerplateLines is idempotent: a second pass changes nothing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", concat_ws("\n", lit("SHARED HEADER"), $"text",
        lit("SHARED FOOTER")).as("t"))
    val once = TextAnalysis.stripBoilerplateLines(docs, "doc_id", "t", 5L)
    val twice = TextAnalysis.stripBoilerplateLines(
      once.select($"doc_id", $"clean_text".as("t")), "doc_id", "t", 5L)
    // kept lines keep their doc frequency (removing OTHER lines doesn't
    // change which docs contain a kept line), so pass 2 removes nothing
    val a = once.select($"doc_id", $"clean_text").as[(Long, String)]
      .collect().toMap
    val b = twice.select($"doc_id", $"clean_text").as[(Long, String)]
      .collect().toMap
    assert(a == b)
    assert(twice.filter($"n_lines_removed" > 0).isEmpty)
  }

  test("mixToBudget is monotone in budget: survivors at B are a subset " +
      "of survivors at 2B") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"source", $"text")
    def run(budget: Long) = Sampling.mixToBudget(docs, "source", "doc_id",
        TextAnalysis.tokenCount($"text"), budget, Map.empty, 50L, "mx")
      .select($"doc_id").as[Long].collect().toSet
    val small = run(500L)
    val big = run(1000L)
    assert(small.subsetOf(big))
    assert(small.size < big.size) // the larger budget genuinely admits more
  }

  // ---------------------------------------------------- sketch gates

  test("statsGate: sketches sit inside tolerance on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val out = SketchStats.statsGate(docs,
        Seq("l_orderkey", "l_partkey"), "l_extendedprice",
        Seq(0.5, 0.95))
      .as[(String, Option[Long], Boolean)].collect()
    assert(out.length == 4)
    assert(out.forall(_._3), s"sketch outside tolerance: ${out.mkString(",")}")
    val exact = out.collect { case (s, Some(e), _) => s -> e }.toMap
    val trueDistinct = docs.select(countDistinct($"l_orderkey"),
      countDistinct($"l_partkey")).as[(Long, Long)].collect().head
    assert(exact("distinct_l_orderkey") == trueDistinct._1)
    assert(exact("distinct_l_partkey") == trueDistinct._2)
  }

  test("statsGate: an empty input yields zero gate rows, not null verdicts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .filter(lit(false))
    val out = SketchStats.statsGate(docs,
      Seq("l_orderkey"), "l_extendedprice", Seq(0.5))
    assert(out.isEmpty)
  }

  // ---------------------------------------------------- quantization

  test("int8 quantization: bounded error, exact zero vector, recall headroom") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // round-trip error is at most scale/2 = max|v|/254 per component
    val err = embs.select(
      zip_with($"v",
        Similarity.dequantizeInt8(Similarity.quantizeInt8($"v")),
        (a, b) => abs(a - b)).as("e"),
      (array_max(transform($"v", abs(_))) / lit(254.0)).as("bound"))
      .select(max(array_max($"e") - $"bound")).as[Double].collect().head
    assert(err <= 1e-12, s"round-trip error exceeded scale/2 by $err")
    val z = Seq((1L, Seq(0.0, 0.0))).toDF("id", "v")
      .select(Similarity.quantizeInt8($"v").as("q"))
      .select($"q.scale", Similarity.dequantizeInt8($"q").as("dq"))
      .as[(Double, Seq[Double])].collect().head
    assert(z._1 == 0.0 && z._2 == Seq(0.0, 0.0))
    // recall@3 of the dequantized kernel vs exact — measure the headroom
    // behind q73's 0.85 floor
    val k = 3
    val exact = Similarity.cosineTopKKernel(embs, "vec_id", "v", k)
      .select($"id", $"neighbor_id")
    val dq = embs.select($"vec_id",
      Similarity.dequantizeInt8(Similarity.quantizeInt8($"v")).as("v"))
    val approx = Similarity.cosineTopKKernel(dq, "vec_id", "v", k)
      .select($"id", $"neighbor_id").withColumn("__hit", lit(1))
    val recall = exact.join(approx, Seq("id", "neighbor_id"), "left")
      .agg((sum(coalesce($"__hit", lit(0))) / count(lit(1))).as("r"))
      .as[Double].collect().head
    info(f"int8 recall@3 = $recall%.4f (q73 floor 0.85)")
    assert(recall >= 0.95, f"recall $recall%.4f leaves no headroom over the floor")
  }

  test("PQ: codes are m bytes and deterministic, reconstruction picks " +
      "real centroids, ADC+refine recall clears the q133 floor") {
    val rng = new scala.util.Random(11)
    val embs = (0L until 400L).map { i =>
      (i, Seq.fill(32)(rng.nextDouble() * 2 - 1))
    }.toDF("vec_id", "v")
    val cb = Similarity.pqTrain(embs, "vec_id", "v", m = 8, ks = 16)
    assert(cb.m == 8 && cb.ks == 16 && cb.subDim == 4)
    val codes = Similarity.pqEncode(embs, "vec_id", "v", cb)
      .as[(Long, Array[Byte])].collect()
    assert(codes.length == 400 && codes.forall(_._2.length == 8))
    val codes2 = Similarity.pqEncode(embs.repartition(13), "vec_id", "v", cb)
      .as[(Long, Array[Byte])].collect()
    assert(codes.map { case (id, c) => id -> c.toSeq }.toMap ==
      codes2.map { case (id, c) => id -> c.toSeq }.toMap)
    // reconstruction = concat of actual codebook centroids
    val rec = Similarity.pqReconstruct(
      Similarity.pqEncode(embs, "vec_id", "v", cb), "vec_id", cb)
      .as[(Long, Seq[Double])].collect().toMap
    val codeMap = codes.map { case (id, c) => id -> c }.toMap
    rec.foreach { case (id, v) =>
      (0 until cb.m).foreach { s =>
        val expected = cb.centers(s)(codeMap(id)(s) & 0xff).toSeq
        assert(v.slice(s * cb.subDim, (s + 1) * cb.subDim) == expected)
      }
    }
    // ADC + refine: recall@3 over a 1-in-4 query subset with headroom
    // over q133's 0.85 floor
    val qp = $"vec_id" % 4 === 0
    val exact = Similarity
      .cosineTopKKernelForQueries(embs, "vec_id", "v", 3, qp)
      .select($"id", $"neighbor_id")
    val approx = Similarity
      .pqAdcTopKForQueries(embs, "vec_id", "v", cb, 3, qp, rerank = 100)
      .select($"id", $"neighbor_id").withColumn("__hit", lit(1))
    val recall = exact.join(approx, Seq("id", "neighbor_id"), "left")
      .agg((sum(coalesce($"__hit", lit(0))) / count(lit(1))).as("r"))
      .as[Double].collect().head
    info(f"pq adc+refine recall@3 = $recall%.4f (q133 floor 0.85)")
    assert(recall >= 0.95, f"recall $recall%.4f leaves no headroom")
    // guards: rerank below k, dim not divisible by m
    intercept[IllegalArgumentException] {
      Similarity.pqAdcTopKForQueries(embs, "vec_id", "v", cb, 3, qp,
        rerank = 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTrain(embs, "vec_id", "v", m = 5)
    }
    // IVF-PQ index: cells from originals, members reconstructed — the
    // shortlist against it still recovers most of the exact top-k
    // (the q135 composition at toy scale; nProbe 8 of 16 cells)
    val index = Similarity.buildIvfPqIndex(embs, "vec_id", "v", cb)
    val short = Similarity.annSearchIvf(
      embs.filter(qp), index, "vec_id", "v", k = 50, nProbe = 8)
      .filter($"neighbor_id" =!= $"id")
      .select($"id", $"neighbor_id").withColumn("__hit", lit(1))
    val cellRecall = exact.join(short, Seq("id", "neighbor_id"), "left")
      .agg((sum(coalesce($"__hit", lit(0))) / count(lit(1))).as("r"))
      .as[Double].collect().head
    info(f"ivfpq shortlist recall@3 = $cellRecall%.4f (q135 floor 0.70)")
    assert(cellRecall >= 0.70)
  }

  // ---------------------------------------------------- extensions

  test("graft_cosine & sketch functions callable from SQL") {
    val row = spark.sql(
      """SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 1.0D)) AS c,
        |  graft_winnowing('abcdefgh', 3, 2) AS fps,
        |  graft_simhash_md5(array('a', 'b')) AS sh""".stripMargin)
      .as[(Double, Seq[Long], Long)].collect().head
    assert(math.abs(row._1 - 1.0 / math.sqrt(2.0)) < 1e-15)
    // same fingerprints as the library call
    val lib = Seq("abcdefgh").toDF("t")
      .select(graft.functions.HashSketches.winnowing($"t", 3, 2))
      .as[Seq[Long]].collect().head
    assert(row._2 == lib)
    val libSh = Seq(Seq("a", "b")).toDF("t")
      .select(graft.functions.HashSketches.simhashMd5_60($"t"))
      .as[Long].collect().head
    assert(row._3 == libSh)
  }

  test("RewriteHofCosine swaps the HOF form for the native kernel") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val withHof = e.select($"vec_id",
      Similarity.cosine($"v", reverse($"v")).as("c"))
    val optimized = withHof.queryExecution.optimizedPlan
    val natives = optimized.expressions.flatMap(_.collect {
      case c: graft.functions.CosineSimilarity => c })
    assert(natives.nonEmpty, s"rule did not fire:\n$optimized")
    assert(optimized.toString.indexOf("aggregate(zip_with") < 0)
    // and the rewrite is value-preserving, bit for bit
    val plain = e.sparkSession.newSession()
    val e2 = plain.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val expected = e2.select($"vec_id",
      Similarity.cosine($"v", reverse($"v")).as("c"))
      .as[(Long, Double)].collect().toMap
    val got = withHof.as[(Long, Double)].collect().toMap
    assert(got == expected)
  }

  test("RewriteHofCosine leaves mismatched norm children alone") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    // norms over v, v but dot over v, reverse(v) in the raw form —
    // build a division whose norm children DON'T match the dot's
    def sumSq(x: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(x, p => p * p), lit(0.0), (a, b) => a + b))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (a, b) => a + b)
    val weird = e.select((dot($"v", reverse($"v")) /
      (sumSq($"v") * sumSq($"v"))).as("c"))
    val natives = weird.queryExecution.optimizedPlan.expressions
      .flatMap(_.collect { case c: graft.functions.CosineSimilarity => c })
    assert(natives.isEmpty)
  }

  // ------------------------------------------------- round-6 operators

  test("register excludes InferFiltersFromGenerate without clobbering prior exclusions") {
    graft.plans.GraftExtensions.register(spark)
    val key = "spark.sql.optimizer.excludedRules"
    val rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    assert(spark.conf.get(key).contains(rule))
    // idempotent: re-register must not duplicate the entry
    graft.plans.GraftExtensions.register(spark)
    assert(spark.conf.get(key).split(",").count(_ == rule) == 1)
    // the tax this guards against: no synthesized size()>0 filter below
    // a generate over a COMPUTED array (it would re-evaluate the
    // array's defining expression a second time, pre-shuffle)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(4)
      .select($"doc_id", split(trim($"text"), "\\s+").as("w"))
      .select($"doc_id", explode(Dedup.wordNGramsFromWords($"w", 3)).as("g"))
      .queryExecution.optimizedPlan
    val inferred = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("size(") => f
    }
    assert(inferred.isEmpty, s"generate filter re-appeared:\n$plan")
  }

  test("collocations: counts, exact single-division lift, minCount gate") {
    val d = Seq("new york new york city", "the new york times").toDF("text")
    val out = TextAnalysis.collocations(d, "text", minCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect()
    // only (new, york) survives minCount=2: c=3, c(new)=3, c(york)=3
    assert(out.toSeq == Seq(("new", "york", 3L, 3L, 3L, 3.0 / 9.0)))
  }

  test("collocations: deterministic (lift desc, w1, w2) order at ties") {
    val d = Seq("new york new york city", "the new york times").toDF("text")
    val out = TextAnalysis.collocations(d, "text", minCount = 1L)
      .select("w1", "w2").as[(String, String)].collect().toSeq
    // four pairs share lift exactly 1/3 (IEEE: 3.0/9.0 == 1.0/3.0);
    // (york, new) at 1/9 sorts last
    assert(out == Seq(("new", "york"), ("the", "new"), ("york", "city"),
      ("york", "times"), ("york", "new")))
  }

  test("exciseRepeatedSpans: shared gram positions drop on every owner, " +
      "short docs immune, full excision keeps the row") {
    val d = Seq(
      (1L, "a b c d e f"),  // shares 'a b c' with 2 and 4
      (2L, "x a b c z w"),
      (3L, "p q r s t"),    // untouched
      (4L, "a b c"),        // fully excised
      (5L, "a b"),          // < n words: carries no grams, immune
    ).toDF("doc_id", "text")
    val out = Dedup.exciseRepeatedSpans(d, "doc_id", "text", n = 3,
        minDf = 2L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "d e f", 3L, 3L),
      (2L, "x z w", 3L, 3L),
      (3L, "p q r s t", 5L, 0L),
      (4L, "", 0L, 3L),
      (5L, "a b", 2L, 0L)))
  }

  test("kmeansQuantized: hand-computed assignments, exact integer " +
      "distances, lowest-index tie policy") {
    // scale 1024: q1=(0,0) q2=(0,102) q3=(1024,1024) q4=(921,1024)
    val d = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.0f, 0.1f)),
      (3L, Seq(1.0f, 1.0f)), (4L, Seq(0.9f, 1.0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeansQuantized(d, "vec_id", "embedding",
        k = 2, iters = 1)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    // init c0=(0,0) c1=(0,102); after one update c0=(0,0),
    // c1=floor((0+1024+921)/3, (102+1024+1024)/3)=(648,716); final
    // assignment: v2 flips to c0 (10404 < 796900)
    assert(out == Seq((1L, 0, 0L), (2L, 0, 10404L),
      (3L, 1, 236240L), (4L, 1, 169393L)))
  }

  test("kmeansQuantized: negative values quantize and average with " +
      "floor (not truncation) semantics") {
    val d = Seq((1L, Seq(-0.1f)), (2L, Seq(0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansQuantized(d, "vec_id", "embedding",
        k = 1, iters = 1)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    // q = (-103, 0); mean = -51.5 → floor → -52 (truncation would give
    // -51); dist2 = 51², 52²
    assert(out == Seq((1L, 0, 2601L), (2L, 0, 2704L)))
  }

  test("lengthBucketedBatches: bucket boundaries are inclusive, batches " +
      "cut consecutively by (len desc, id)") {
    val d = Seq(
      (1L, 10L), (2L, 32L),           // bucket 0 (≤ 32)
      (3L, 33L), (4L, 64L), (5L, 40L), // bucket 1 (33..64)
      (6L, 999L),                      // overflow bucket 2
    ).toDF("doc_id", "n_tok")
    val out = Packing.lengthBucketedBatches(d, "doc_id", "n_tok",
        batchSize = 2, boundaries = Seq(32, 64))
      .as[(Long, Long, Int, Long)].collect().sortBy(_._1).toSeq
    // bucket 1 order: (64,#4) (40,#5) | (33,#3) → batches 0,0,1
    assert(out == Seq((1L, 10L, 0, 0L), (2L, 32L, 0, 0L),
      (3L, 33L, 1, 1L), (4L, 64L, 1, 0L), (5L, 40L, 1, 0L),
      (6L, 999L, 2, 0L)))
  }

  test("learnBpeMerges: hand-computed rounds with (cnt desc, l, r) " +
      "tie-break; consecutive occurrences defer to later rounds") {
    // word freqs: abab=3, ab=2. Round 1: (a,b) = 2·3+2 = 8 wins;
    // 'a b a b' rewrites to 'ab a b' (shared separator consumed), 'a b'
    // to 'ab'. Round 2 pairs: (ab,a)=3, (a,b)=3 — tie breaks to lhs
    // 'a' < 'ab', so the DEFERRED (a,b) merges again.
    val d = Seq("abab abab abab ab ab").toDF("text")
    val out = TextAnalysis.learnBpeMerges(d, "text", numMerges = 2)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(out == Seq((1, "a", "b", "ab", 8L), (2, "a", "b", "ab", 3L)))
  }

  test("learnBpeMergesBatched: batchSize=1 degenerates to the " +
      "sequential trainer exactly") {
    val d = Seq("abab abab abab ab ab", "cat cat dog").toDF("text")
    val seq0 = TextAnalysis.learnBpeMerges(d, "text", numMerges = 4)
      .as[(Int, String, String, String, Long)].collect().toSeq
    val bat = TextAnalysis
      .learnBpeMergesBatched(d, "text", numMerges = 4, batchSize = 1)
      .select("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(bat == seq0)
    // batch=1 rounds are singletons: round == merge_rank
    val rounds = TextAnalysis
      .learnBpeMergesBatched(d, "text", numMerges = 4, batchSize = 1)
      .select("merge_rank", "round").as[(Int, Int)].collect().toSeq
    assert(rounds.forall { case (rk, rd) => rk == rd })
  }

  test("learnBpeMergesBatched: disjoint top pairs land in ONE round; " +
      "a symbol-sharing candidate defers to the next") {
    // ab(2), cd(3): pairs (c,d)=3, (a,b)=2 share no symbol → both
    // accepted in round 1, rank order = count order
    val disj = Seq("ab ab cd cd cd").toDF("text")
    val out1 = TextAnalysis
      .learnBpeMergesBatched(disj, "text", numMerges = 2, batchSize = 2)
      .as[(Int, Int, String, String, String, Long)].collect().toSeq
    assert(out1 == Seq(
      (1, 1, "c", "d", "cd", 3L), (2, 1, "a", "b", "ab", 2L)))
    // ab(3), bc(2): (b,c) shares 'b' with the accepted (a,b) → it is
    // REJECTED from round 1 (its count would be stale after the
    // rewrite) and wins round 2 instead
    val conf = Seq("ab ab ab bc bc").toDF("text")
    val out2 = TextAnalysis
      .learnBpeMergesBatched(conf, "text", numMerges = 2, batchSize = 2)
      .as[(Int, Int, String, String, String, Long)].collect().toSeq
    assert(out2 == Seq(
      (1, 1, "a", "b", "ab", 3L), (2, 2, "b", "c", "bc", 2L)))
  }

  test("learnBpeMergesBatched: the MERGED symbol also blocks — a " +
      "candidate built from an accepted pair's output waits a round") {
    // abc(2): round-1 candidates (a,b)=2 and (b,c)=2 (tie → lhs 'a'
    // wins); (b,c) shares 'b' → deferred. Round 2 over 'ab c' has
    // exactly (ab,c)=2 — the pair whose lhs IS round 1's merged
    // symbol, only countable after that rewrite landed
    val d = Seq("abc abc").toDF("text")
    val out = TextAnalysis
      .learnBpeMergesBatched(d, "text", numMerges = 2, batchSize = 2)
      .as[(Int, Int, String, String, String, Long)].collect().toSeq
    assert(out == Seq(
      (1, 1, "a", "b", "ab", 2L), (2, 2, "ab", "c", "abc", 2L)))
    // and the batched merge table (round dropped) segments identically
    // to the sequential table it approximates on this fixture
    val seg = TextAnalysis.bpeSegment(d, "text",
        TextAnalysis
          .learnBpeMergesBatched(d, "text", numMerges = 2, batchSize = 2)
          .drop("round"))
      .select("word", "segments").as[(String, String)].collect().toSet
    assert(seg == Set(("abc", "abc")))
  }

  test("bpe replace semantics pinned: runs of identical symbols " +
      "under-merge within a round (scan resumes after the replacement)") {
    val d = Seq("aaaa bb").toDF("text")
    val out = TextAnalysis.bpeSegment(d, "text",
        TextAnalysis.learnBpeMerges(d, "text", numMerges = 1))
      .select("word", "segments").as[(String, String)].collect().toSet
    // merge 1 is (a,a) (count 3 beats (b,b)=1); 'a a a a' rewrites to
    // 'aa a a' — NOT 'aa aa' — because the scan consumed the shared
    // separator (documented contract); bb is untouched by merge (a,a)
    assert(out == Set(("aaaa", "aa a a"), ("bb", "b b")))
  }

  test("bpeSegment: unseen merge leaves words intact, n_segments counts") {
    val d = Seq("cat cat dog").toDF("text")
    val merges = TextAnalysis.learnBpeMerges(d, "text", numMerges = 1)
    // (a,t) weight 2 wins over (c,a)=2? tie: (a,t) < (c,a) lexically
    val m = merges.as[(Int, String, String, String, Long)].collect().head
    assert(m == ((1, "a", "t", "at", 2L)))
    val seg = TextAnalysis.bpeSegment(d, "text", merges)
      .as[(String, Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(seg == Seq(("cat", 2L, "c at", 2), ("dog", 1L, "d o g", 3)))
  }

  test("flagBlocked: subdomain suffix matches, longest entry wins, " +
      "clean hosts pass") {
    val docs = Seq(
      (1L, "https://ads.tracker.com/x"),    // subdomain of tracker.com
      (2L, "https://tracker.com/y"),        // exact
      (3L, "https://nottracker.com/z"),     // NOT a label-boundary match
      (4L, "https://deep.ads.tracker.com"), // longest match ads.tracker.com
      (5L, "HTTPS://Tracker.COM:8443/q"),   // case + port normalization
    ).toDF("doc_id", "url")
    val bl = Seq("tracker.com", "ads.tracker.com").toDF("domain")
    val out = UrlOps.flagBlocked(docs, "doc_id", "url", bl)
      .select("doc_id", "host", "blocked_domain", "blocked")
      .as[(Long, String, Option[String], Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "ads.tracker.com", Some("ads.tracker.com"), true),
      (2L, "tracker.com", Some("tracker.com"), true),
      (3L, "nottracker.com", None, false),
      (4L, "deep.ads.tracker.com", Some("ads.tracker.com"), true),
      (5L, "tracker.com", Some("tracker.com"), true)))
    val kept = UrlOps.blocklistFilter(docs, "doc_id", "url", bl)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(3L))
  }

  test("groupCentroidsQuantized: per-dim floor means, group sizes") {
    val d = Seq(
      ("a", Seq(0.0f, 1.0f)), ("a", Seq(0.1f, -1.0f)),
      ("b", Seq(0.5f, 0.5f)),
    ).toDF("src", "embedding")
    val out = Similarity.groupCentroidsQuantized(d, "src", "embedding")
      .as[(String, Seq[Long], Long)].collect().sortBy(_._1).toSeq
    // a: dim0 floor((0+102)/2)=51, dim1 floor((1024-1024)/2)=0
    // b: (512, 512)
    assert(out == Seq(("a", Seq(51L, 0L), 2L), ("b", Seq(512L, 512L), 1L)))
  }

  test("temperatureMixSqrt: smallest source keeps all, rates follow " +
      "sqrt(t_min/t), zero-token source keeps all") {
    val d = Seq.tabulate(100)(i =>
        (i.toLong, if (i < 80) "big" else "small", 10L)) ++
      Seq((100L, "empty", 0L))
    val df = d.toDF("doc_id", "source", "w")
    val out = Sampling.temperatureMixSqrt(df, "source", "doc_id",
      col("w"), seed = "t")
    val rates = out.select("source", "rate_permille").distinct()
      .as[(String, Long)].collect().toMap
    // t_big=800, t_small=200, t_min=200: rate_big =
    // floor(1000*sqrt(200/800)) = 500; small keeps 1000
    assert(rates("big") == 500L && rates("small") == 1000L)
    // the zero-token source has no positive total — keeps everything
    assert(out.filter($"source" === "empty").count() == 1)
  }

  test("balancedShards: round-robin by (weight desc, id); totals " +
      "within one max weight") {
    val d = Seq.tabulate(10)(i => (i.toLong, (10 - i).toLong * 10))
      .toDF("doc_id", "w")
    val out = Sampling.balancedShards(d, "doc_id", "w", numShards = 3)
      .as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    // ranks follow weight desc = id asc here; shard = rank % 3
    assert(out.map(_._3) == Seq(0, 1, 2, 0, 1, 2, 0, 1, 2, 0))
    val totals = out.groupBy(_._3).map(_._2.map(_._2).sum).toSeq.sorted
    assert(totals.max - totals.min <= 100)
  }

  test("exactQuantilesLong == sorted-offset selection on ties, " +
      "negatives, and wide ranges; p=1.0 is the max") {
    val vals = Seq(5L, 5L, 5L, -100L, 0L, 1L, 1L, 7L, 1000000007L, 42L)
    val d = vals.map(v => Tuple1(v)).toDF("v")
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val out = SketchStats.exactQuantilesLong(d, "v", ps)
      .as[(Double, Long)].collect().toMap
    val sorted = vals.sorted
    ps.foreach { p =>
      val k = math.max(1L, math.ceil(p * vals.size).toLong).toInt
      assert(out(p) == sorted(k - 1), s"p=$p")
    }
  }

  test("exactQuantilesLong: empty input yields zero rows; single row " +
      "answers every p") {
    val empty = Seq.empty[Long].map(Tuple1(_)).toDF("v")
    assert(SketchStats.exactQuantilesLong(empty, "v", Seq(0.5)).count() == 0)
    val one = Seq(Tuple1(99L)).toDF("v")
    val out = SketchStats.exactQuantilesLong(one, "v", Seq(0.01, 1.0))
      .as[(Double, Long)].collect().toMap
    assert(out == Map(0.01 -> 99L, 1.0 -> 99L))
  }

  test("updateVocab: frozen ids survive, counts advance, entrants rank " +
      "after the old max by batch df") {
    val old = Seq((1L, "aa bb aa"), (2L, "aa bb")).toDF("doc_id", "text")
    val vocab = TextAnalysis.buildVocab(old, "doc_id", "text", minDf = 2L)
    // old vocab: aa (tf 3) id 0, bb (tf 2) id 1
    val batch = Seq((3L, "bb cc dd"), (4L, "cc dd cc"), (5L, "ee"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.updateVocab(vocab, batch, "doc_id", "text",
        minDf = 2L)
      .as[(String, Long, Long, Long)].collect().sortBy(_._4).toSeq
    // aa untouched by batch; bb +1/+1; cc (btf 3, bdf 2) enters at 2;
    // dd (btf 2) at 3; ee (bdf 1) misses minDf
    assert(out == Seq(("aa", 3L, 2L, 0L), ("bb", 3L, 3L, 1L),
      ("cc", 3L, 2L, 2L), ("dd", 2L, 2L, 3L)))
  }

  test("dedupParagraphsGlobal: first (doc, pos) owner survives, blanks " +
      "immune, within-doc repeats also collapse") {
    val d = Seq(
      (1L, "shared\nunique1\n\nshared"), // pos-0 owner; pos-3 repeat drops
      (2L, "shared\nunique2"),
      (3L, "unique3\nshared\n"),         // trailing '' = blank, immune
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupParagraphsGlobal(d, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "shared\nunique1\n", 3L, 1L),
      (2L, "unique2", 1L, 1L),
      (3L, "unique3\n", 2L, 1L)))
  }

  test("hashProjection: signs are the md5-60 parity, coordinates are " +
      "sequential folds; deterministic across calls") {
    val d = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val run = () => Similarity.hashProjection(d, "vec_id", "embedding",
        dim = 3, outDim = 2)
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    val out = run()
    assert(out == run()) // same formula, same matrix
    // recompute signs the slow way and fold in order
    def sign(j: Int, i: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) 1.0 else -1.0
    }
    val expected = (0 until 2).map(j =>
      Seq(1.0, 2.0, 3.0).zipWithIndex
        .foldLeft(0.0) { case (acc, (v, i)) => acc + v * sign(j, i) })
    assert(out.head._2 == expected)
    assert(out(1)._2 == Seq(0.0, 0.0))
  }

  test("exactQuantilesLongByGroup: per-group sorted-offset selection; " +
      "null group is a group") {
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L),
      ("b", 100L), ("b", 200L), (null, 7L), (null, 9L))
      .toDF("g", "v")
    val out = SketchStats
      .exactQuantilesLongByGroup(d, "g", "v", Seq(0.5, 1.0))
      .as[(Option[String], Double, Long)].collect()
      .map { case (g, p, v) => (g.getOrElse("∅"), p, v) }.toSet
    assert(out == Set(
      ("a", 0.5, 2L), ("a", 1.0, 4L),
      ("b", 0.5, 100L), ("b", 1.0, 200L),
      ("∅", 0.5, 7L), ("∅", 1.0, 9L)))
  }

  test("exciseRepeatedSpans: null text behaves like empty text") {
    val d = Seq((1L, null), (2L, "k l m"), (3L, "k l m n"))
      .toDF("doc_id", "text")
    val out = Dedup.exciseRepeatedSpans(d, "doc_id", "text", n = 3,
        minDf = 2L)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // split(trim('')) = [''] — one empty word, never covered by a gram
    assert(out.head == ((1L, "", 1L, 0L)))
    // 'k l m' is shared by docs 2 and 3 → both lose it
    assert(out(1) == ((2L, "", 0L, 3L)))
    assert(out(2) == ((3L, "n", 1L, 3L)))
  }

  // ------------------------------------- Gopher n-gram char fractions

  test("ngramRepetitionSignals: hand-computed top/dup char fractions; " +
      "diverse and degenerate docs score 0") {
    val d = Seq(
      (1L, "a b a b a b"),  // 6 words, 11 chars normalized
      (2L, "x y z w"),      // fully diverse — every fraction 0
      (3L, ""),             // empty
      (4L, "hello"),        // single word — no grams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramRepetitionSignals(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val a = out(1L)
    assert(a.getLong(1) == 11L)
    // top 2-gram "a b"×3 → 3·3/11; top 3-gram tie→"a b a"×2 → 2·5/11;
    // top 4-gram "a b a b"×2 → 2·7/11 (>1: overlap double-counts)
    assert(a.getDouble(2) == 9.0 / 11)
    assert(a.getDouble(3) == 10.0 / 11)
    assert(a.getDouble(4) == 14.0 / 11)
    // 5- and 6-grams all unique; 7..10 don't exist → dup fracs all 0
    assert((5 to 10).forall(i => a.getDouble(i) == 0.0))
    assert(a.getBoolean(11))
    val b = out(2L)
    assert((2 to 10).forall(i => b.getDouble(i) == 0.0))
    assert(!b.getBoolean(11))
    val c = out(3L)
    assert(c.getLong(1) == 0L && !c.getBoolean(11))
    val e = out(4L)
    assert(e.getLong(1) == 5L && !e.getBoolean(11))
  }

  // ------------------------------------------- prototypicality pruning

  test("pruneOutliersByCentroid: farthest per-mille per cluster marked, " +
      "per-cluster thresholds independent") {
    val d = Seq(
      (1L, Seq(0.0f)), (2L, Seq(1.0f)), (3L, Seq(2.0f)), (4L, Seq(3.0f)),
    ).toDF("vec_id", "embedding")
    // k=1, iters=0: center = id 1's vector; prune the farthest half
    val one = Similarity.pruneOutliersByCentroid(d, "vec_id", "embedding",
        k = 1, iters = 0, prunePermille = 500)
      .as[(Long, Int, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(one == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    // k=2, iters=0: c0=[0], c1=[1024]; cluster 0 = {1} (its single
    // member survives: 1000 > 1·500), cluster 1 = {2,3,4} (farthest
    // of three pruned: 1000 ≤ 3·500)
    val two = Similarity.pruneOutliersByCentroid(d, "vec_id", "embedding",
        k = 2, iters = 0, prunePermille = 500)
      .as[(Long, Int, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._5).toMap
    assert(two == Map(1L -> true, 2L -> true, 3L -> true, 4L -> false))
  }

  // ------------------------------------------ non-straddle bin packing

  test("binPackBlocked: next-fit-decreasing within one block, oversize " +
      "doc isolated and flagged") {
    val d = Seq((1L, 300L), (2L, 200L), (3L, 200L), (4L, 100L),
      (5L, 600L)).toDF("doc_id", "n_tok")
    val out = Packing.binPackBlocked(d, "doc_id", col("n_tok"),
        capacity = 512, blockSize = 10)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._5, r._6))).toMap
    // rank order 5(600) 1(300) 2(200) 3(200) 4(100):
    // bin0={5 over}, bin1={1,2}=500, bin2={3,4}=300
    assert(out == Map(5L -> ((0L, true)), 1L -> ((1L, false)),
      2L -> ((1L, false)), 3L -> ((2L, false)), 4L -> ((2L, false))))
  }

  test("binPackBlocked: blocks cut by global rank; global bin ids dense " +
      "across blocks") {
    val d = Seq((1L, 300L), (2L, 200L), (3L, 200L), (4L, 100L),
      (5L, 600L)).toDF("doc_id", "n_tok")
    val out = Packing.binPackBlocked(d, "doc_id", col("n_tok"),
        capacity = 512, blockSize = 2)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    // blocks: {5,1} {2,3} {4}; block0 → bins (0:{5}, 1:{1});
    // block1 → bin 0:{2,3}=400; block2 → bin 0:{4}
    assert(out == Map(
      5L -> ((0L, 0L, 0L)), 1L -> ((0L, 1L, 1L)),
      2L -> ((1L, 0L, 2L)), 3L -> ((1L, 0L, 2L)),
      4L -> ((2L, 0L, 3L))))
  }

  // ------------------------------------------------- matryoshka ANN

  test("annTopKMatryoshka: full-dim prefix with ample shortlist equals " +
      "the exact kernel; narrow prefix still returns k ranked rows") {
    val d = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.1)), (2L, Seq(0.9, 0.1, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.2, 0.0)), (4L, Seq(0.0, 0.9, 0.0, 0.3)),
      (5L, Seq(0.5, 0.5, 0.5, 0.5)), (6L, Seq(0.1, 0.0, 1.0, 0.0)),
    ).toDF("id", "v")
    def key(r: (Long, Long, Double, Int)) = (r._1, r._2, r._4)
    val exact = Similarity.cosineTopKKernel(d, "id", "v", k = 2)
      .as[(Long, Long, Double, Int)].collect().map(key).toSet
    val full = Similarity.annTopKMatryoshka(d, "id", "v", k = 2,
        prefixDims = 4, shortlist = 5)
      .as[(Long, Long, Double, Int)].collect().map(key).toSet
    assert(full == exact)
    val narrow = Similarity.annTopKMatryoshka(d, "id", "v", k = 2,
        prefixDims = 2, shortlist = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(narrow.map(_._1).distinct.length == 6)
    assert(narrow.groupBy(_._1).values.forall(_.map(_._4).sorted.toSeq
      == Seq(1, 2)))
  }

  // ---------------------------------------------------- BM25 scoring

  test("bm25Scores: matches the pinned IEEE formula; zero-match docs " +
      "score 0; tf and rarity both raise the score") {
    val d = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c c c"), (4L, "z z"))
      .toDF("doc_id", "text")
    val out = Scoring.bm25Scores(d, "doc_id", "text", Seq("a", "c"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // reference model replaying the documented op sequence exactly
    val (n, t) = (4L, 11L)
    def idf(df: Long): Long =
      math.floor(1000.0 * math.log(
        (n.toDouble - df + 0.5) / (df + 0.5) + 1.0)).toLong
    def m(idfMn: Long, tf: Long, dl: Long): Long =
      math.floor((idfMn.toDouble * 1000.0) * (tf.toDouble * (1.0 + 1.2)) /
        (tf.toDouble + 1.2 * ((1.0 - 0.75) + 0.75 *
          ((dl * n).toDouble / t.toDouble)))).toLong
    val (ia, ic) = (idf(1), idf(2))
    assert(out(1L) == ((3L, 1L, m(ia, 2, 3))))
    assert(out(2L) == ((2L, 1L, m(ic, 1, 2))))
    assert(out(3L) == ((4L, 1L, m(ic, 4, 4))))
    assert(out(4L) == ((2L, 0L, 0L)))
    // the rare term ('a', df 1) outweighs the common one at equal tf/dl
    assert(ia > ic)
  }

  // ------------------------------------------ line-wise quality edit

  test("lineQualitySignals: each rule fires on its line class, blanks " +
      "survive, mostly-chrome doc flagged") {
    val d = Seq(
      (1L, "NAV HOME\nreal prose line here\n12 likes\n2024 - 11 - 05\nok\n\nsecond paragraph\nmore prose"),
      (2L, "just a normal line"),
      (3L, "MENU\nA B\n7 views"),   // everything chrome → flagged
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineQualitySignals(d, "doc_id", "text")
      .as[(Long, String, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val a = out(1L)
    assert(a._2 == "real prose line here\n\nsecond paragraph\nmore prose")
    // removed 4 of 8 — exactly AT the 0.5 threshold, not over → kept
    assert(a._3 == 8L && a._4 == 4L && !a._6)
    val b = out(2L)
    assert(b._2 == "just a normal line" && b._4 == 0L && !b._6)
    val c = out(3L)
    assert(c._2 == "" && c._4 == 3L && c._6)
  }

  // ------------------------------------------------ blocklist filter

  test("blocklistHits: lowercased edge-stripped tokens match; matched " +
      "words sorted distinct") {
    val d = Seq(
      (1L, "Bad! stuff and BAD, words worse"),
      (2L, "perfectly clean text"),
      (3L, null.asInstanceOf[String]),
    ).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistHits(d, "doc_id", "text",
        Seq("worse", "bad"))
      .as[(Long, Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, "bad worse", true)))
    assert(out(2L) == ((0L, "", false)))
    assert(out(3L) == ((0L, "", false)))
  }

  // ------------------------------------------- multi-epoch allocation

  test("epochAllocation: cap, full+partial, and sub-epoch branches") {
    val d = Seq(("a", 100L), ("b", 60L), ("c", 500L))
      .toDF("source", "n")
    val out = Sampling.epochAllocation(d, "source", col("n"),
        budgetTokens = 1000L, weightsPermille = Map("a" -> 300L),
        defaultPermille = 100L, maxEpochs = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5, r._6))).toMap
    // a: target 300, T 100 → 3 full passes capped at 2, no partial
    assert(out("a") == ((300L, 2L, 0L, 200L)))
    // b: target 100, T 60 → 1 full + 666‰ partial → 60 + 39 = 99
    assert(out("b") == ((100L, 1L, 666L, 99L)))
    // c: target 100, T 500 → 0 full + 200‰ partial → 100
    assert(out("c") == ((100L, 0L, 200L, 100L)))
  }

  // ------------------------------------------------- training order

  test("trainOrder: dense permutation, round-robin shards, epochs " +
      "reshuffle") {
    val d = (1L to 8L).toDF("id")
    val e1 = Sampling.trainOrder(d, "id", epoch = 1, numWorkers = 2,
        seed = "s").as[(Long, Long, Long, Long)].collect().sortBy(_._2)
    assert(e1.map(_._2).toSeq == (0L to 7L))
    assert(e1.map(r => (r._3, r._4)).toSeq ==
      (0L to 7L).map(r => (r % 2, r / 2)))
    val e2 = Sampling.trainOrder(d, "id", epoch = 2, numWorkers = 2,
        seed = "s").as[(Long, Long, Long, Long)].collect()
    assert(e1.sortBy(_._1).map(_._2).toSeq !=
      e2.sortBy(_._1).map(_._2).toSeq)
  }

  test("binPackBlocked: null length fails loudly with the offending id") {
    val d = Seq((1L, Some(10L)), (2L, None)).toDF("doc_id", "n_tok")
    val e = intercept[Exception] {
      Packing.binPackBlocked(d, "doc_id", col("n_tok"),
        capacity = 64, blockSize = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("null length")))
  }

  // ------------------------------------------- edit-distance near-dup

  test("editDistancePairs: equals brute force on random short strings " +
      "(no false negatives from PassJoin blocking, tiny path included)") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 80L).map { i =>
      val len = rnd.nextInt(15) // 0..14: exercises the tiny-string path
      (i, (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    }
    val df = rows.toDF("id", "s")
    val got = Dedup.editDistancePairs(df, "id", "s", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = graft.functions.EditDistance.dist(
        sa.getBytes("UTF-8"), sb.getBytes("UTF-8"), -1)
      if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got == brute)
    assert(brute.nonEmpty) // the alphabet is small enough to collide
  }

  test("editDistancePairs: planted substitution/deletion variants are " +
      "found at their exact distances; null text = empty text") {
    val df = Seq(
      (1L, "the quick brown fox"), (2L, "Xhe quick brown fox"),
      (3L, "he quick brown fox"), (4L, "completely different"),
      (5L, null.asInstanceOf[String]), (6L, ""),
    ).toDF("id", "s")
    val got = Dedup.editDistancePairs(df, "id", "s", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    // (2,3) is ONE deletion: dropping the substituted 'X' of id 2
    // yields id 3's text directly
    assert(got == Set((1L, 2L, 1), (1L, 3L, 1), (2L, 3L, 1), (5L, 6L, 0)))
  }

  // ------------------------------------------------ Kneser–Ney LM

  test("scoreKneserNeyLm: hand-computed integer q values; OOV and " +
      "unseen-prefix backoff paths; short docs score null") {
    val train = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: c12 ab=2 ba=1 bc=1; prefixes a:(c1=2,n1fw=1)
    // b:(c1=2,n1fw=2); B=3 types, V=2 prefixes, B+V=5;
    // continuations n1pw: a=1 b=1 c=1
    val lm = TextAnalysis.trainKneserNeyLm(train, "text")
    assert(lm.nBigramTypes == 3L && lm.vocabSize == 2L)
    val score = Seq((10L, "a b c x a"), (11L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.scoreKneserNeyLm(score, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    // (a b): (2000-750)*1e9//2000 + 750*1*2*1e9//10000 = 775e6
    // (b c): 250*1e9//2000 + 750*2*2*1e9//10000       = 425e6
    // (c x): unseen prefix, x unseen cont -> 1*1e9//5  = 200e6, oov
    // (x a): unseen prefix -> 2*1e9//5                 = 400e6, oov
    // mean = 1800e6 // 4 = 450e6
    assert(out(10L) == ((4L, 2L, 450000000L)))
    assert(out(11L) == ((0L, 0L, -1L)))
  }

  test("scoreKneserNeyLm: zero discount degrades to the unsmoothed " +
      "ML estimate floor(c12/c1 * 1e9)") {
    val train = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val lm = TextAnalysis.trainKneserNeyLm(train, "text", dPermille = 0)
    val out = TextAnalysis.scoreKneserNeyLm(
        Seq((10L, "a b")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head
    assert(out.getLong(3) == 1000000000L) // P(b|a) = 2/2 = 1
  }

  // ------------------------------------------------- ROUGE-L dedup

  /** Independent reference LCS (plain recurrence, full matrix). */
  private def refLcs(a: Seq[String], b: Seq[String]): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.length)(b.length)
  }

  test("LcsLength: classic values, subsequence-not-substring, null " +
      "array and null elements") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d")),
      (Seq("x", "a", "x", "b", "x", "c"), Seq("y", "a", "y", "b", "y", "c")),
      (Seq.empty[String], Seq("a")),
      (Seq("a", "a", "a"), Seq("a", "a")),
    ).toDF("a", "b")
    assert(df.select(graft.functions.LcsLength($"a", $"b")).as[Int]
      .collect().toSeq == Seq(2, 3, 0, 2))
    val nulls = Seq((Seq[String]("a", null, "b"), Seq[String](null, "b")))
      .toDF("a", "b")
    // null elements never match (even each other)
    assert(nulls.select(graft.functions.LcsLength($"a", $"b")).as[Int]
      .head() == 1)
    val na = Seq((None: Option[Seq[String]], Some(Seq("a")))).toDF("a", "b")
    assert(na.select(graft.functions.LcsLength($"a", $"b")).collect()
      .head.isNullAt(0))
  }

  test("rougeLPairs: equals brute force on random token lists — the " +
      "bag-prefix filter drops no qualifying pair") {
    val rnd = new scala.util.Random(13)
    val rows = (0L until 60L).map { i =>
      val len = 1 + rnd.nextInt(10)
      (i, (0 until len).map(_ => s"t${rnd.nextInt(6)}"))
    }
    val df = rows.toDF("id", "toks")
    val got = Dedup.rougeLPairs(df, "id", "toks", minPermille = 600)
      .as[(Long, Long, Int, Long)].collect().toSet
    val brute = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib
      l = refLcs(ta, tb)
      f = (2000L * l) / (ta.length + tb.length) if f >= 600
    } yield (ia, ib, l, f)).toSet
    assert(got == brute)
    assert(brute.nonEmpty)
    // uniform-length low-entropy corpus — the q172 shape, where the
    // pair-length bound L >= ceil(θ·(len+minLen)/2) shrinks the prefix
    // from 8 to 4 of 12 tokens: the filter must STILL drop no
    // qualifying pair
    val base12 = (0L until 40L).map { i =>
      (i, (0 until 12).map(_ => s"w${rnd.nextInt(8)}"))
    }
    // planted one-token paraphrases guarantee qualifying pairs
    // (LCS = 11 of 12, F1 = 916), so the recall half isn't vacuous
    val rows12 = base12 ++ base12.take(5).map { case (i, t) =>
      (i + 100L, t.updated(6, "zzz"))
    }
    val got12 = Dedup.rougeLPairs(rows12.toDF("id", "toks"), "id",
        "toks", minPermille = 700)
      .as[(Long, Long, Int, Long)].collect().toSet
    val brute12 = (for {
      (ia, ta) <- rows12; (ib, tb) <- rows12 if ia < ib
      l = refLcs(ta, tb)
      f = (2000L * l) / 24 if f >= 700
    } yield (ia, ib, l, f)).toSet
    assert(got12 == brute12)
    assert(brute12.size >= 5) // the planted paraphrases all qualify
  }

  test("rougeLPairs: the Self-Instruct gate — one-token paraphrase " +
      "trips 0.7, disjoint instructions don't; empty docs drop") {
    val df = Seq(
      (1L, Seq("sort", "the", "list", "in", "ascending", "order")),
      (2L, Seq("sort", "the", "list", "in", "descending", "order")),
      (3L, Seq("write", "a", "poem", "about", "spring")),
      (4L, Seq.empty[String]),
    ).toDF("id", "toks")
    val got = Dedup.rougeLPairs(df, "id", "toks", minPermille = 700)
      .as[(Long, Long, Int, Long)].collect().toSet
    // LCS(1,2) = 5, F = 10000/12 = 833
    assert(got == Set((1L, 2L, 5, 833L)))
  }

  // --------------------------------------------- D4 diversification

  test("pruneOutliersByCentroid dropClosest: prunes the near-centroid " +
      "fraction — the complement direction of the outlier cut") {
    val vecs = (0L until 40L).map(i =>
      (i, Seq((i % 2) * 10.0 + (i % 5) * 0.1, (i % 2) * 10.0)))
      .toDF("id", "v")
    def run(dropClosest: Boolean) = Similarity.pruneOutliersByCentroid(
        vecs, "id", "v", k = 2, iters = 2, prunePermille = 250,
        dropClosest = dropClosest)
      .as[(Long, Int, Long, Long, Boolean)].collect()
    val far = run(false)
    val near = run(true)
    // same clustering either way; each direction prunes 25% per cluster
    assert(far.map(r => (r._1, r._2)).toSet == near.map(r => (r._1, r._2)).toSet)
    Seq(far, near).foreach { o =>
      o.groupBy(_._2).values.foreach { cl =>
        assert(cl.count(!_._5) == cl.length / 4)
      }
    }
    // the pruned sets sit at opposite ends of the distance ranking
    for (cl <- far.map(_._2).distinct) {
      val fDrop = far.filter(r => r._2 == cl && !r._5).map(_._3).min
      val nDrop = near.filter(r => r._2 == cl && !r._5).map(_._3).max
      val fKeepMax = far.filter(r => r._2 == cl && r._5).map(_._3).max
      val nKeepMin = near.filter(r => r._2 == cl && r._5).map(_._3).min
      assert(fDrop >= fKeepMax) // far mode drops the largest distances
      assert(nDrop <= nKeepMin) // near mode drops the smallest
    }
  }

  // ----------------------------------------- preference + release ops

  test("copelandRanking: wins-minus-losses, dense tie ranks, " +
      "never-winning candidates still scored") {
    val prefs = Seq(
      ("p1", "a", "b"), ("p1", "a", "c"), ("p1", "b", "c"),
      ("p1", "c", "b"), // b and c split their rematch -> tie at -...
      ("p2", "x", "y"),
    ).toDF("g", "w", "l")
    val out = Scoring.copelandRanking(prefs, "g", "w", "l")
      .as[(String, String, Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(out(("p1", "a")) == ((2L, 0L, 2L, 1)))
    assert(out(("p1", "b")) == ((1L, 2L, -1L, 2)))
    assert(out(("p1", "c")) == ((1L, 2L, -1L, 2))) // dense tie
    assert(out(("p2", "x")) == ((1L, 0L, 1L, 1)))
    assert(out(("p2", "y")) == ((0L, 1L, -1L, 2))) // loser-only row
  }

  test("kAnonymityGate: small cells flagged unreleased but present") {
    val d = (Seq.fill(5)("big") ++ Seq.fill(2)("small"))
      .zipWithIndex.toDF("g", "i")
    val out = Scoring.kAnonymityGate(d, Seq("g"), k = 4L)
      .as[(String, Long, Boolean)].collect().toSet
    assert(out == Set(("big", 5L, true), ("small", 2L, false)))
    intercept[IllegalArgumentException] {
      Scoring.kAnonymityGate(d, Seq.empty, 4L)
    }
  }

  // ------------------------------------------------ retrieval metrics

  test("retrievalMetrics: hand-computed MRR/NDCG; no-hit and " +
      "zero-relevant edge cases") {
    val ranked = Seq(
      // qA: hits at ranks 1 and 3 (2 relevant total)
      ("qA", 1, true), ("qA", 2, false), ("qA", 3, true),
      // qB: first hit at rank 4; one more relevant OUTSIDE top-k
      ("qB", 1, false), ("qB", 4, true), ("qB", 12, true),
      // qC: relevant exists but never retrieved in the ranking
      ("qC", 1, false), ("qC", 2, false),
      // qD: nothing relevant at all
      ("qD", 1, false),
    ).toDF("q", "rank", "rel")
    val totals = Seq(("qA", 2L), ("qB", 2L), ("qC", 1L), ("qD", 0L))
      .toDF("q", "n_relevant")
    val w = Scoring.ndcgWeights(10)
    val cum = w.scanLeft(0L)(_ + _).tail
    val out = Scoring.retrievalMetrics(ranked, "q", "rank", "rel",
        totals, k = 10)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out("qA") == ((2L, 2L, 1L, 1000000000L,
      (1000000L * (w(0) + w(2))) / cum(1))))
    assert(out("qB") == ((2L, 1L, 4L, 250000000L,
      (1000000L * w(3)) / cum(1))))
    assert(out("qC") == ((1L, 0L, -1L, 0L, 0L)))
    assert(out("qD") == ((0L, 0L, -1L, 0L, -1L))) // ndcg undefined
  }

  // ------------------------------------- cross-frame decontamination

  test("crossCosineTopK: matches brute force across frames; colliding " +
      "numeric ids between frames are NOT self-excluded") {
    val rnd = new scala.util.Random(23)
    val qs = (0L until 30L).map(i => (i, Seq.fill(6)(rnd.nextDouble())))
    val cs = (20L until 45L).map(i => (i, Seq.fill(6)(rnd.nextDouble())))
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
    }
    val got = Similarity.crossCosineTopK(qs.toDF("id", "v"), "id", "v",
        cs.toDF("id", "v"), "id", "v", k = 2)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(_._2).toSeq).toMap
    val brute = qs.map { case (qid, qv) =>
      qid -> cs.map { case (cid, cv) => (cos(qv, cv), cid) }
        .sortBy { case (c, id) => (-c, id) }.take(2).map(_._2)
    }.toMap
    assert(got == brute)
    // ids 20..29 exist in BOTH frames: the identical-id candidate must
    // still be eligible (it's a different row in a different table)
    assert((20L until 30L).forall(i => got(i).nonEmpty))
  }

  test("semanticContamination: a planted eval-duplicate flags at " +
      "cosine 1.0; orthogonal vectors don't") {
    val train = Seq((1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0)))
      .toDF("id", "v")
    val eval = Seq((100L, Seq(2.0, 0.0, 0.0)), (101L, Seq(0.0, 0.0, 5.0)))
      .toDF("id", "v")
    val out = Decontamination.semanticContamination(train, "id", "v",
        eval, "id", "v", tauPermille = 900)
      .as[(Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._4))).toMap
    assert(out(1L) == ((100L, true)))  // same direction as eval q
    assert(out(2L)._2 == false)
  }

  // -------------------------------------- in-context document order

  test("greedySimilarityChains: dense per-cluster positions, each id " +
      "once, and every hop is the max-integer-dot unvisited neighbor") {
    val rnd = new scala.util.Random(17)
    val vecs = (0L until 50L).map(i =>
      (i, Seq.fill(8)(rnd.nextDouble() - 0.3))).toDF("id", "v")
    val out = Similarity.greedySimilarityChains(vecs, "id", "v",
        k = 3, iters = 2).as[(Long, Int, Int)].collect()
    assert(out.map(_._1).distinct.length == 50)
    // replicate: same clusters, same quantization, same greedy rule
    val assigned = Similarity.kmeansQuantized(vecs, "id", "v", 3, 2)
      .select($"id", $"cluster").as[(Long, Int)].collect().toMap
    val qs = vecs.select($"id", transform($"v",
        x => floor(x * 1024d).cast("long")).as("q"))
      .as[(Long, Seq[Long])].collect().toMap
    val expected = assigned.groupBy(_._2).flatMap { case (cl, ms) =>
      val ids = ms.keys.toArray.sorted
      val chain = scala.collection.mutable.ArrayBuffer(ids.head)
      val left = scala.collection.mutable.SortedSet(ids.tail: _*)
      while (left.nonEmpty) {
        val cq = qs(chain.last)
        val nxt = left.maxBy(b =>
          (qs(b).zip(cq).map { case (x, y) => x * y }.sum, -b))
        chain += nxt; left -= nxt
      }
      chain.zipWithIndex.map { case (id, p) => (id, cl, p) }
    }.toSet
    assert(out.toSet == expected)
  }

  // ------------------------------------------ packed segment masks

  test("packedSegments: straddling docs clip to chunk windows, " +
      "segment ids are token-ordered, zero-width docs vanish") {
    // token counts 3, 5, 1 (empty text = one token under tokenCount's
    // split semantics), 6, and 0 (NULL text) with seqLen 4:
    //   doc1 [0,3)  -> chunk0 [0,3)
    //   doc2 [3,8)  -> chunk0 [3,4) + chunk1 [0,4)
    //   doc3 [8,9)  -> chunk2 [0,1)
    //   doc4 [9,15) -> chunk2 [1,4) + chunk3 [0,3)
    //   doc5 zero-width -> nothing
    val d = Seq((1L, "a a a"), (2L, "b b b b b"), (3L, ""),
      (4L, "c c c c c c"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Packing.packedSegments(d, "doc_id",
        TextAnalysis.tokenCount(col("text")), seqLen = 4)
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(out == Set(
      (0L, 1L, 0L, 3L, 0), (0L, 2L, 3L, 4L, 1),
      (1L, 2L, 0L, 4L, 0),
      (2L, 3L, 0L, 1L, 0), (2L, 4L, 1L, 4L, 1), (3L, 4L, 0L, 3L, 0)))
  }

  // ---------------------------------------------- DoReMi reweighting

  test("domainReweight: integer log-weight chain (incl. negative " +
      "excess), rank order, and softmax alpha consistency") {
    val rows = Seq(
      ("web", 0L, 2000000L), ("web", 0L, 4000000L), // step mean 3e6
      ("web", 1L, 1000000L),                        // step mean 1e6
      ("code", 0L, -500000L),                       // negative excess
      ("books", 0L, 0L), ("books", 1L, 0L),
    ).toDF("domain", "step", "excess")
    val out = Scoring.domainReweight(rows, "domain", "step", "excess",
        etaPermille = 100, smoothingPermille = 10)
      .as[(String, Long, Long, Long, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    // web: sum 4e6, lw = 100*4e6/1000 = 4e5; code: -5e4; books: 0
    assert(out("web")._4 == 400000L && out("web")._2 == 2L)
    assert(out("code")._4 == -50000L)
    assert(out("books")._4 == 0L)
    assert(out("web")._5 == 1 && out("books")._5 == 2 && out("code")._5 == 3)
    // alpha: ordered like lw, sums to ~1e6, floor under the exact sum
    val alphas = out.values.toSeq.sortBy(_._5).map(_._6)
    assert(alphas == alphas.sorted.reverse)
    val total = alphas.sum
    assert(total > 997000L && total <= 1000000L)
  }

  test("htGroupEstimate: estimate = sampled sum / pi exactly, audit " +
      "columns exact, full sample degenerates to exact") {
    val rows = (1L to 400L).map(i =>
      (if (i % 2 == 0) "a" else "b", i, 10L)).toDF("g", "id", "cents")
    val out = Sampling.htGroupEstimate(rows, "g", "cents", "id",
        seed = "t1", samplePermille = 250)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    for (g <- Seq("a", "b")) {
      val (_, nTotal, nSampled, exact, est, errPm) = out(g)
      assert(nTotal == 200L && exact == 2000L)
      // estimate is exactly sampled*4 (pi = 1/4), err matches by hand
      assert(est == nSampled * 10L * 4L)
      assert(errPm == (est - exact) * 1000L / exact)
      // the hash sample is near its expected size (binomial, 200 draws)
      assert(nSampled > 20L && nSampled < 80L, s"$g sampled $nSampled")
    }
    // samplePermille = 1000 → everything sampled → estimate IS exact
    val full = Sampling.htGroupEstimate(rows, "g", "cents", "id",
        seed = "t1", samplePermille = 1000)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(full.forall(r => r._5 == r._4 && r._6 == 0L))
    intercept[IllegalArgumentException] {
      Sampling.htGroupEstimate(rows, "g", "cents", "id", "t1", 0)
    }
  }

  test("htGroupEstimate plan: ONE scan with map-side partial " +
      "aggregation — the audit column costs no extra pass") {
    val rows = graft.model.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("cents"))
    val plan = Sampling.htGroupEstimate(rows, "event_type", "cents",
        "event_id", "s", 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), plan)
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("rendezvousAssign is stable per key and balanced-ish; movement " +
      "on grow-by-two goes ONLY to the new shards") {
    val keys = (1L to 2000L).toDF("k")
    val before = (0 until 8).map(i => s"s$i")
    val after = (0 until 10).map(i => s"s$i")
    val counts = Placement.rendezvousAssign(keys, "k", before, "rv")
      .groupBy("shard").count().as[(String, Long)].collect().toMap
    assert(counts.keySet.subsetOf(before.toSet))
    // 2000 keys over 8 shards: each within a loose 3x band of fair
    assert(counts.values.forall(c => c > 80L && c < 750L), counts)
    val mv = Placement.rendezvousMovement(keys, "k", before, after, "rv")
      .as[(String, String, Long, Boolean)].collect()
    val moved = mv.filter(_._4)
    // every move lands on a NEW shard — the minimal-movement property
    assert(moved.nonEmpty)
    assert(moved.forall(m => Set("s8", "s9")(m._2)), moved.toSeq)
    // expected movement ≈ 2/10 of keys; allow a wide band
    val movedN = moved.map(_._3).sum
    assert(movedN > 200L && movedN < 700L, movedN)
    // shrinking back re-homes ONLY the removed shards' keys
    val back = Placement.rendezvousMovement(keys, "k", after, before, "rv")
      .as[(String, String, Long, Boolean)].collect().filter(_._4)
    assert(back.forall(m => Set("s8", "s9")(m._1)), back.toSeq)
    intercept[IllegalArgumentException] {
      Placement.rendezvousAssign(keys, "k", Seq("a", "a"), "rv")
    }
  }

  test("linkage: pairs only within blocks, agreement vector scores " +
      "with integer weights, null fields disagree, threshold filters") {
    import graft.ops.EntityResolution.{Comparator, linkage}
    val left = Seq(
      (1L, "b1", Some(10L), "x"),   // matches r1 on both fields
      (2L, "b1", Some(20L), "x"),   // field2 agrees, field1 doesn't
      (3L, "b2", Some(10L), "x"),   // other block: never meets r1
      (4L, "b1", Option.empty[Long], "x"), // null field1 → disagree
    ).toDF("lid", "blk", "f1", "f2")
    val right = Seq((101L, "b1", Some(10L), "x"))
      .toDF("rid", "blk", "g1", "g2")
    val out = linkage(left, right, "blk", "lid", "rid",
        Seq(
          Comparator("f1", (a, b) => a === b, "f1", "g1", 1000L, -500L),
          Comparator("f2", (a, b) => a === b, "f2", "g2", 800L, -400L)),
        thresholdMilli = 300L)
      .select($"left_id", $"right_id", $"agree_f1", $"agree_f2",
        $"score_milli")
      .as[(Long, Long, Boolean, Boolean, Long)].collect().toSet
    // lid 1: 1000+800 = 1800 ✓; lid 2: -500+800 = 300 ✓ (boundary);
    // lid 3: other block — no pair; lid 4: -500+800 = 300 ✓ with
    // agree_f1 = false from the null
    assert(out == Set(
      (1L, 101L, true, true, 1800L),
      (2L, 101L, false, true, 300L),
      (4L, 101L, false, true, 300L)))
    intercept[IllegalArgumentException] {
      Comparator("bad", (a, b) => a === b, "f1", "g1", -1L, 0L)
    }
    intercept[IllegalArgumentException] {
      linkage(left, right, "blk", "lid", "rid", Seq.empty, 0L)
    }
  }

  test("rendezvousAssign plan: pure codegen'd map — no shuffle, no " +
      "join against a shard table") {
    val keys = graft.model.Tables.documents(spark,
      "/root/testdata/sf0.001").select(col("doc_id"))
    val plan = Placement.rendezvousAssign(keys, "doc_id",
        (0 until 8).map(i => s"s$i"), "rv")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }
}
