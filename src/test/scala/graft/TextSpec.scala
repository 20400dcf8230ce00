package graft

import graft.text.TextAnalysis

class TextSpec extends SparkSpec {

  test("boilerplate removal kills frequent segments everywhere, first copy included") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    def uniq(tag: String) = (1 to 8).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"$boiler ${uniq("x")}"),
      (2L, s"$boiler ${uniq("y")}"),
      (3L, uniq("z"))
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplate(docs, segTokens = 8, minDocs = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segs"), r.getAs[Long]("n_boiler_segs"),
          r.getAs[Double]("retained_ratio"))).toMap
    // unlike chunkDedup, doc 1 loses ITS copy of the shared segment too
    assert(out(1L) == (2L, 1L, 0.5))
    assert(out(2L) == (2L, 1L, 0.5))
    assert(out(3L) == (1L, 0L, 1.0))
  }

  test("zipf fits the rank-frequency line over a deterministic ranking") {
    import spark.implicits._
    // counts a=4, b=2, c=1 → OLS over (ln rank, ln n) has slope ≈ -1.2337
    val docs = Seq((1L, "a a a a b b c", "s1")).toDF("doc_id", "text", "source")
    val row = TextAnalysis.zipf(docs).collect().head
    assert(row.getAs[Long]("n_terms") == 3L)
    assert(math.abs(row.getAs[Double]("zipf_slope") + 1.2337) < 0.001)
  }

  test("zipf slope is negative for every source on real data") {
    val rows = TextAnalysis.zipf(Tables.documents(spark, sf)).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("zipf_slope") < 0.0))
  }

  test("collocations rank a planted always-adjacent pair on top") {
    import spark.implicits._
    // "neural network" only ever occurs as a pair (PMI = ln(N/1 * ...)
    // maximal); "the"+"cat" co-occur adjacently sometimes but each
    // also appears alone everywhere (PMI ≈ 0); min-count prunes rare
    // noise pairs
    val docs = (1 to 10).map { i =>
      (i.toLong, s"neural network the cat a$i the dog cat b$i the end")
    }.toDF("doc_id", "text")
    val out = TextAnalysis.collocations(docs, minCount = 5L, k = 5).collect()
    assert(out.nonEmpty)
    val top = out.find(_.getAs[Long]("rk") == 1L).get
    assert(top.getAs[String]("bg") == "neural network")
    assert(top.getAs[Long]("n") == 10L)
    // ranks are dense and PMI is non-increasing down the list
    val sorted = out.sortBy(_.getAs[Long]("rk"))
    assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to out.length).toSeq)
    val pmis = sorted.map(_.getAs[Double]("pmi")).toSeq
    assert(pmis == pmis.sorted.reverse)
    // every surviving pair cleared the count floor
    assert(out.forall(_.getAs[Long]("n") >= 5L))
  }

  test("novelty is 1 for an original, 0 for its copy, and owners partition shingles") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over lazy dogs"),
      (2L, "the quick brown fox jumps over lazy dogs"), // exact copy
      (3L, "completely different words appear in this document body")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.novelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L)._3 == 1.0 && out(3L)._3 == 1.0) // first owners
    assert(out(2L)._2 == 0L && out(2L)._3 == 0.0)  // the copy introduces nothing
    assert(out(1L)._1 == out(2L)._1)               // same shingle count
    // ownership partitions the corpus shingle set: novel counts sum to
    // the number of distinct shingles
    val distinctShingles = graft.dedup.Dedup.shingles(docs)
      .select("shingle").distinct().count()
    assert(out.values.map(_._2).sum == distinctShingles)
  }

  test("novelty ownership partitions shingles on real data") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.novelty(docs).collect()
    val distinctShingles = graft.dedup.Dedup.shingles(docs)
      .select("shingle").distinct().count()
    assert(out.map(_.getAs[Long]("n_novel")).sum == distinctShingles)
    assert(out.forall { r =>
      val nv = r.getAs[Double]("novelty")
      nv >= 0.0 && nv <= 1.0 })
  }

  test("soft-dedup manifest splits on the keeper and never leaks a family") {
    val docs = Tables.documents(spark, sf)
    val out = TextAnalysis.curationManifestSoft(docs).collect()
    assert(out.nonEmpty)
    // manifest counts equal a from-scratch replay of the three stages
    val soft = graft.ops.Sampling.softDedup(docs)
      .filter(org.apache.spark.sql.functions.col("soft_kept"))
    val survivors = soft.count()
    assert(out.map(_.getAs[Long]("n_docs")).sum <= survivors)
    // every surviving doc's split equals its keeper's split hash —
    // so two surviving members of one family can never straddle it
    val splitOf = soft.collect().map { r =>
      val keeper = r.getAs[Long]("keep_doc_id")
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(keeper.toString.getBytes("UTF-8"))
      val nib = (hex(0) >> 4) & 0xf
      r.getAs[Long]("doc_id") -> (if (nib < 4) "val" else "train")
    }.toMap
    val byKeeper = soft.collect().groupBy(_.getAs[Long]("keep_doc_id"))
    byKeeper.values.foreach { members =>
      val splits = members.map(m => splitOf(m.getAs[Long]("doc_id"))).toSet
      assert(splits.size == 1, "a family straddles the split") }
  }

  test("redaction rewrites emails before digits and certifies the bytes") {
    import spark.implicits._
    // the email's local part contains digits: the email pass must win
    // (digit-first would shred "bob42@..." and hide the address)
    val docs = Seq((1L, "contact bob42@mail.com or call 555 1234 now"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.redact(docs).collect().head
    val expected = "contact <EMAIL> or call <NUM> <NUM> now"
    assert(r.getAs[Long]("n_emails") == 1L)
    assert(r.getAs[Long]("n_nums") == 2L)
    assert(r.getAs[Long]("redacted_len") == expected.length.toLong)
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getAs[String]("redacted_md5") == md5)
  }

  test("redaction recognizes dotted/tagged/mixed-case multi-label emails") {
    import spark.implicits._
    // the documented EmailRe shape: uppercase, dotted + plus-tagged
    // local part with digits, multi-label domain — ONE whole-span
    // match (a narrower pattern would shred it and leak fragments)
    val docs = Seq((1L, "mail First.Last+tag42@sub.example.com today"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.redact(docs).collect().head
    assert(r.getAs[Long]("n_emails") == 1L)
    assert(r.getAs[Long]("n_nums") == 0L) // no digit survived the email pass
    assert(r.getAs[Long]("redacted_len") ==
      "mail <EMAIL> today".length.toLong)
  }

  test("hashed features bucket by the md5 byte and conserve token counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val feats = TextAnalysis.hashedFeatures(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("bucket"),
        r.getAs[Long]("n_tokens")))
    def bucketOf(tok: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (d(0) & 0xff) % 16
    }
    val a = bucketOf("alpha"); val b = bucketOf("beta"); val g = bucketOf("gamma")
    // exact expected sparse triplets (collisions merge counts)
    def expect(doc: Long, toks: Seq[String]) =
      toks.groupBy(bucketOf).map { case (k, ts) => (doc, k, ts.size.toLong) }.toSet
    assert(feats.toSet ==
      expect(1L, Seq("alpha", "beta", "alpha")) ++ expect(2L, Seq("beta", "gamma")),
      s"got ${feats.toSet}; buckets a=$a b=$b g=$g")
    // conservation: per-doc feature mass equals the whitespace token count
    val mass = TextAnalysis.hashedFeatures(Tables.documents(spark, sf))
      .groupBy("doc_id").agg(sum("n_tokens").as("m"))
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(trim(col("text")), " ")).cast("long").as("n"))
    assert(mass.join(toks, "doc_id").filter(col("m") =!= col("n")).count() == 0L)
    intercept[IllegalArgumentException](TextAnalysis.hashedFeatures(docs, 15))
  }

  test("dup spans: sliding 5-grams catch shifted copies and union overlapping hits") {
    import spark.implicits._
    val docs = Seq(
      // A and B share the run "one two three four five" (exactly one
      // 5-gram, shifted by one position in B — the tile-aligned
      // boilerplate segmenter misses this)
      (1L, "one two three four five six seven"),
      (2L, "zero one two three four five end tail"),
      (3L, "totally unrelated words appear here often enough"),
      // D and E share a 7-token run → three overlapping dup 5-grams
      // whose intervals must UNION, not sum
      (4L, "a b c d e f g h"),
      (5L, "p a b c d e f g q"),
      // repeated run inside ONE doc only: not a cross-doc duplicate
      (6L, "r s t u v r s t u v")).toDF("doc_id", "text")
    val got = TextAnalysis.dupSpans(docs, n = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_tokens"),
          r.getAs[Double]("dup_ratio"))).toMap
    assert(got(1L) === (7L, 5L, 0.7143))
    assert(got(2L) === (8L, 5L, 0.625))
    assert(got(3L) === (7L, 0L, 0.0))
    assert(got(4L) === (8L, 7L, 0.875))  // [1,5]∪[2,6]∪[3,7] = 7 tokens
    assert(got(5L) === (9L, 7L, 0.7778))
    assert(got(6L) === (10L, 0L, 0.0))   // same-doc repeat is not dup
    assert(got.size === 6)
  }

  test("quality by source: exact mean of the 4-dp scores, identical under row permutations") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    def bySource(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.qualityBySource(df).orderBy("source").collect().toSeq
    val base = bySource(docs)
    val rows = docs.collect().toSeq
    for (seed <- 1 to 3) {
      val permuted = spark.createDataFrame(spark.sparkContext.parallelize(
        new scala.util.Random(seed).shuffle(rows), 2 + seed), docs.schema)
      assert(bySource(permuted) == base, s"permutation seed $seed")
    }
    // the mean is the half-up 4-dp mean of the per-document scores
    val exact = TextAnalysis.qualityScore(docs).collect().toSeq
      .groupBy(_.getAs[String]("source")).map { case (src, rs) =>
        val mean = rs.map(r => BigDecimal(r.getAs[Double]("quality"))).sum / rs.size
        src -> mean.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    assert(base.map(r => r.getAs[String]("source") ->
      r.getAs[Double]("avg_quality")).toMap == exact)
  }

  test("quality drift: a template flood drifts, peers stay calm, " +
      "single source is NULL") {
    import spark.implicits._
    // two organic sources with the same mixed text population; one
    // "flood" source of identical high-probability templates — its
    // score distribution is a point mass the others don't have
    val organic = (1 to 20).flatMap { i =>
      Seq((100L + i, s"alpha beta w$i gamma delta", "en", "a"),
        (200L + i, s"alpha beta v$i gamma delta", "en", "b"))
    }
    val flood = (1 to 20).map(i =>
      (300L + i, "alpha beta gamma delta alpha beta gamma delta", "en",
        "flood"))
    val docs = (organic ++ flood).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.qualityDrift(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Double]("ks"), r.getAs[Boolean]("drifted")))).toMap
    assert(out("flood")._2, s"$out")
    assert(out("flood")._1 > out("a")._1 && out("flood")._1 > out("b")._1)
    out.values.foreach { case (ks, _) => assert(ks >= 0.0 && ks <= 1.0) }
    // a and b are drawn from the same population: near-identical
    // distributions, far from the flood's statistic
    assert(math.abs(out("a")._1 - out("b")._1) < 0.2)
    // one source: no rest-of-corpus to compare against
    val single = (1 to 5).map(i => (i.toLong, s"a b c$i", "en", "only"))
      .toDF("doc_id", "text", "lang", "source")
    val s1 = TextAnalysis.qualityDrift(single).collect()
    assert(s1.length == 1 && s1.head.isNullAt(s1.head.fieldIndex("ks")))
  }

  test("lm gate stream: scores its own fit identically to the batch buckets") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlc = spark.sqlContext
    val corpus = Seq(
      (1L, "a b a c", "en"), (2L, "a b", "en"), (3L, "b a a c a b", "en"),
      (4L, "x", "en"),                    // sub-bigram: unscored
      (5L, "p q p q", "fr"), (6L, "q p", "fr"), (7L, "p p q q p", "fr"),
      // whitespace regime: batch shingle_list trims ONLY ascii
      // spaces (tabs/newlines stay inside tokens) and keeps empty
      // tokens from double spaces — the stream must tokenize
      // byte-identically or scores silently diverge
      (8L, "a\tb c a\tb c", "en"), (9L, "  a b  ", "en"),
      (10L, "a  b a  b", "en")
    ).toDF("doc_id", "text", "lang")
    val model = TextAnalysis.lmFit(corpus)
    val batch = TextAnalysis.lmBuckets(corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_bigrams"), Option(r.getAs[java.lang.Long]("score_ppm")),
        r.getAs[String]("bucket"))).toSet
    // stream the same corpus across two micro-batches
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = graft.streaming.TextStreams.lmGateStream(
      input.toDF().toDF("doc_id", "text", "lang"), model)
      .writeStream.format("memory").queryName("lmg")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      input.addData(Seq((1L, "a b a c", "en"), (5L, "p q p q", "fr"),
        (4L, "x", "en"), (8L, "a\tb c a\tb c", "en")))
      q.processAllAvailable()
      input.addData(Seq((2L, "a b", "en"), (3L, "b a a c a b", "en"),
        (6L, "q p", "fr"), (7L, "p p q q p", "fr"),
        (9L, "  a b  ", "en"), (10L, "a  b a  b", "en")))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT * FROM lmg").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_bigrams"), Option(r.getAs[java.lang.Long]("score_ppm")),
        r.getAs[String]("bucket"))).toSet
    assert(streamed == batch, s"stream $streamed\nbatch $batch")
    // novel text: unseen bigrams score 0 ppm (maximum surprise) and
    // an unknown language falls to head like the batch left join
    val input2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q2 = graft.streaming.TextStreams.lmGateStream(
      input2.toDF().toDF("doc_id", "text", "lang"), model)
      .writeStream.format("memory").queryName("lmg2")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      input2.addData(Seq((10L, "zz yy zz", "en"), (11L, "a b", "de")))
      q2.processAllAvailable()
    } finally q2.stop()
    val novel = spark.sql("SELECT * FROM lmg2").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_ppm"),
        r.getAs[String]("bucket"))).toSet
    assert(novel.contains((10L, 0L, "tail")) ||
      novel.exists(t => t._1 == 10L && t._2 == 0L), s"$novel")
    assert(novel.exists(t => t._1 == 11L && t._3 == "head"), s"$novel")
  }

  test("lm gate: a capped fit scores past-cap bigrams as 0 ppm on both sides") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlc = spark.sqlContext
    val corpus = Seq(
      (1L, "a b a c", "en"), (2L, "a b", "en"), (3L, "b a a c a b", "en"),
      (4L, "x", "en"), (5L, "p q p q", "fr"), (6L, "q p", "fr"),
      (7L, "p p q q p", "fr"), (9L, "  a b  ", "en"), (10L, "a  b a  b", "en")
    ).toDF("doc_id", "text", "lang")
    val topK = 3
    val model = TextAnalysis.lmFit(corpus, topK = topK)
    assert(model.ppm.size === topK)

    // INDEPENDENT Scala replay of the capped fit: full-corpus ppm
    // (the cap selects entries, it does not re-estimate), top-k by
    // (count desc, bigram asc), scores under the capped map with
    // past-cap bigrams at 0, per-language tercile cuts as exact
    // order statistics of the capped scores
    def toks(t: String): Array[String] = {
      var b = 0; var e = t.length
      while (b < e && t.charAt(b) == ' ') b += 1
      while (e > b && t.charAt(e - 1) == ' ') e -= 1
      t.substring(b, e).split(" ", -1)
    }
    val docs = Seq(
      (1L, "a b a c", "en"), (2L, "a b", "en"), (3L, "b a a c a b", "en"),
      (4L, "x", "en"), (5L, "p q p q", "fr"), (6L, "q p", "fr"),
      (7L, "p p q q p", "fr"), (9L, "  a b  ", "en"), (10L, "a  b a  b", "en"))
    val occ = docs.flatMap { case (_, t, _) =>
      toks(t).sliding(2).filter(_.length == 2).map(_.mkString(" ")) }
    val cnt = occ.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pref = cnt.groupBy(_._1.split(" ", -1)(0)).view
      .mapValues(_.values.sum).toMap
    val fullPpm = cnt.map { case (bg, c) =>
      bg -> c * 1000000L / pref(bg.split(" ", -1)(0)) }
    val capped = cnt.toSeq.sortBy { case (bg, c) => (-c, bg) }.take(topK)
      .map { case (bg, _) => bg -> fullPpm(bg) }.toMap
    assert(model.ppm === capped)

    val scored = docs.flatMap { case (id, t, lang) =>
      val bg = toks(t).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSeq
      if (bg.isEmpty) None
      else Some((id, lang, bg.size.toLong,
        bg.map(b => capped.getOrElse(b, 0L)).sum / bg.size)) }
    val cuts = scored.groupBy(_._2).map { case (lang, xs) =>
      val v = xs.map(_._4).sorted
      val n = v.size.toLong
      lang -> (v(((n - 1) * 3333L / 10000L).toInt),
        v(((n - 1) * 6667L / 10000L).toInt)) }
    val expect = docs.map { case (id, t, lang) =>
      scored.find(_._1 == id) match {
        case None => (id, lang, 0L, Option.empty[Long], "unscored")
        case Some((_, _, n, sc)) =>
          val (b1, b2) = cuts(lang)
          val b = if (sc <= b1) "tail" else if (sc <= b2) "middle" else "head"
          (id, lang, n, Some(sc), b)
      } }.toSet

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = graft.streaming.TextStreams.lmGateStream(
      input.toDF().toDF("doc_id", "text", "lang"), model)
      .writeStream.format("memory").queryName("lmgc")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      input.addData(docs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.sql("SELECT * FROM lmgc").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("n_bigrams"), Option(r.getAs[java.lang.Long]("score_ppm")).map(_.toLong),
        r.getAs[String]("bucket"))).toSet
    assert(streamed === expect, s"stream $streamed\nexpect $expect")

    // and the batch scorer under the same capped model agrees doc
    // for doc (lmScored's left join is what makes this hold)
    val docBg = TextAnalysis.lmDocBg(corpus)
    val ppmDf = model.ppm.toSeq.toDF("bg", "ppm")
    val batch = TextAnalysis.lmScored(docBg, ppmDf)
      .select("doc_id", "score_ppm").as[(Long, Long)].collect().toMap
    scored.foreach { case (id, _, _, sc) => assert(batch(id) === sc, s"doc $id") }
  }

  test("truncation audit: per-cap losses match a hand count, one pass") {
    import spark.implicits._
    // token counts: 2, 5, 9 → caps 4 and 8 cut different subsets
    val docs = Seq(
      (1L, "a b"), (2L, "a b c d e"), (3L, "a b c d e f g h i"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.truncationAudit(docs, Seq(4, 8)).collect()
      .map(r => (r.getAs[Long]("cap"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_docs_over"), r.getAs[Double]("pct_docs_over"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("tokens_lost"),
        r.getAs[Double]("pct_tokens_lost"))).toSet
    // cap 4: docs 2,3 over, lost (5-4)+(9-4)=6 of 16; cap 8: doc 3,
    // lost 1 of 16
    assert(got === Set(
      (4L, 3L, 2L, 0.6667, 16L, 6L, 0.375),
      (8L, 3L, 1L, 0.3333, 16L, 1L, 0.0625)))
    // single scan, single aggregation pass (all caps ride one agg)
    val plan = TextAnalysis.truncationAudit(docs, Seq(4, 8))
      .queryExecution.optimizedPlan
    assert(plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size === 1, s"expected ONE aggregate:\n$plan")
  }

  test("vocab coverage: hand-counted curve, heap cut instead of a sort") {
    import spark.implicits._
    // counts: a×5, b×3, c×2, d×1, e×1 → total 12 occurrences, 5 types
    val docs = Seq((1L, "a a a b b c"), (2L, "a a b c d e"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, Seq(1, 2, 4)).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_types_in_k"),
        r.getAs[Long]("covered_occurrences"), r.getAs[Long]("total_occurrences"),
        r.getAs[Long]("total_types"), r.getAs[Long]("coverage_ppm"))).toSet
    assert(got === Set(
      (1L, 1L, 5L, 12L, 5L, 416666L),   // a
      (2L, 2L, 8L, 12L, 5L, 666666L),   // a, b
      (4L, 4L, 11L, 12L, 5L, 916666L))) // a, b, c, d (tie d<e)
    // the vocabulary is cut by the bounded-heap operator, never
    // globally sorted: no SortExec outside the ≤max(k)-row window
    val df = TextAnalysis.vocabCoverage(docs, Seq(1, 2, 4))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      "vocabulary cut not on the heap operator")
  }

  test("winnow: guaranteed detection, density bounds, short/empty docs") {
    import spark.implicits._
    // docs 1-2 share the run "a b c d e f g h" (8 tokens >= w+q-1=7):
    // winnowing GUARANTEES a common fingerprint. doc 3 is unrelated,
    // doc 4 has 5 tokens (2 grams < w: one short window, 1 fp),
    // doc 5 has 3 tokens (0 grams: explicit zero row, NULL ratio)
    val docs = Seq(
      (1L, "p q r a b c d e f g h s t u v w"),
      (2L, "m n a b c d e f g h k l"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12"),
      (4L, "y1 y2 y3 y4 y5"),
      (5L, "x1 x2 x3")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.winnow(docs).orderBy("doc_id").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_fps"),
        r.getAs[Long]("n_shared")))).toMap
    assert(byId(1L)._3 >= 1 && byId(2L)._3 >= 1,
      s"shared run must fingerprint on both sides: $byId")
    assert(byId(3L)._3 == 0 && byId(3L)._2 >= 1)
    assert(byId(4L) == ((2L, 1L, 0L)), s"got ${byId(4L)}")
    assert(byId(5L)._1 == 0L && byId(5L)._2 == 0L &&
      out.find(_.getAs[Long]("doc_id") == 5L).get
        .isNullAt(out.head.fieldIndex("shared_ratio")))
    // density: one fingerprint can be the min of at most w
    // consecutive windows, so n_fps >= ceil(valid/w); and never
    // exceeds the valid-window count
    out.filter(_.getAs[Long]("n_grams") > 0).foreach { r =>
      val valid = math.max(1L, r.getAs[Long]("n_grams") - 3L)
      val fps = r.getAs[Long]("n_fps")
      assert(fps >= (valid + 3) / 4 && fps <= valid,
        s"doc ${r.getAs[Long]("doc_id")}: $fps of $valid")
    }
    // partitioning invariance: the selection is a pure per-doc fold
    val re = TextAnalysis.winnow(docs.repartition(7)).orderBy("doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_fps")).toMap
    assert(out.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("n_fps")).toMap == re)
  }

  test("lm buckets: exact ppm scores, per-lang terciles, unscored kept") {
    import spark.implicits._
    // en model: c(a b)=2, c(b a)=1, c(a c)=2; prefixes a→4, b→1 →
    // ppm(a b)=ppm(a c)=500000, ppm(b a)=1000000
    val docs = Seq(
      (1L, "a b a c", "en"), // (500000+1000000+500000) div 3 = 666666
      (2L, "a b", "en"),     // 500000
      (3L, "a c", "en"),     // 500000
      (4L, "c", "en"),       // no bigrams: unscored, stays in output
      (5L, "x y", "fr"),     // fr ppm(x y)=1000000 → 1000000
      (6L, "x y x y", "fr")  // (3·1000000) div 3 = 1000000
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.lmBuckets(docs).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((if (r.isNullAt(r.fieldIndex("score_ppm"))) -1L
          else r.getAs[Long]("score_ppm")),
          r.getAs[Long]("n_bigrams"), r.getAs[String]("bucket"))).toMap
    // en scores sorted [500000, 500000, 666666]: b1 = rank 0, b2 =
    // rank 1 → both cuts 500000; d1 sits above both cuts
    assert(out(1L) == ((666666L, 3L, "head")), s"got ${out(1L)}")
    assert(out(2L) == ((500000L, 1L, "tail")))
    assert(out(3L) == ((500000L, 1L, "tail")))
    assert(out(4L) == ((-1L, 0L, "unscored")))
    // fr is a point mass at 1000000: every doc lands at-or-under b1
    assert(out(5L) == ((1000000L, 1L, "tail")))
    assert(out(6L) == ((1000000L, 3L, "tail")))
    assert(out.size == 6)
  }

  test("vocab growth: first-bucket attribution, cumulative lines, repeat-heavy flatline") {
    import spark.implicits._
    // 3 docs, max+1 = 3 → buckets 0, 3, 6. doc1 re-uses 'b' (no new
    // type but token mass grows); doc2 is ALL repeats — the Heaps
    // flatline a re-crawled corpus shows
    val docs = Seq(
      (0L, "a b a"), (1L, "b c"), (2L, "a b c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("new_types"), r.getAs[Long]("cum_tokens"),
          r.getAs[Long]("cum_types")))).toMap
    assert(got === Map(
      0L -> ((1L, 3L, 2L, 3L, 2L)),
      3L -> ((1L, 2L, 1L, 5L, 3L)),
      6L -> ((1L, 3L, 0L, 8L, 3L))), s"$got")
  }

  test("source overlap: shared head tokens counted once per pair, " +
    "zero-overlap pairs reported explicitly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb", "s1"), (2L, "aa cc", "s2"), (3L, "xx yy", "s3"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceOverlap(docs, k = 2).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Long]("overlap_ppm")))).toMap
    assert(got === Map(
      ("s1", "s2") -> ((1L, 500000L)),
      ("s1", "s3") -> ((0L, 0L)),
      ("s2", "s3") -> ((0L, 0L))), s"$got")
  }

  test("source TV drift: a corpus-identical source reads 0, disjoint " +
    "equal-mass registers read exactly half, tail drift registers") {
    import spark.implicits._
    // s1 and s2 are all-"x" / all-"y" with equal mass: each source's
    // distribution is a point mass, the corpus is the 50/50 mixture,
    // so TV = ½ for both — 500000 ppm EXACTLY (integer arithmetic,
    // no rounding slack to tolerate)
    val disjoint = Seq(
      (1L, "x x x", "s1"), (2L, "y y y", "s2"))
      .toDF("doc_id", "text", "source")
    val d = TextAnalysis.sourceTvDrift(disjoint).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("tv_ppm")))).toMap
    assert(d === Map("s1" -> ((1L, 3L, 500000L)),
      "s2" -> ((1L, 3L, 500000L))), s"$d")
    // two sources with the SAME distribution: both TV 0 — the
    // absent-type closed form contributes nothing when nothing is
    // absent
    val same = Seq(
      (1L, "a b", "s1"), (2L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    val s = TextAnalysis.sourceTvDrift(same).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tv_ppm")).toMap
    assert(s === Map("s1" -> 0L, "s2" -> 0L), s"$s")
    // tail-only drift: sources share the head token but one carries a
    // private tail type — TV strictly between 0 and ½, exact value
    // 2/8 = 250000 ppm: p_s1 = {a:1}, p = {a:¾, b:¼} → TV = ¼
    val tail = Seq(
      (1L, "a a", "s1"), (2L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    val t = TextAnalysis.sourceTvDrift(tail).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("tv_ppm")).toMap
    assert(t === Map("s1" -> 250000L, "s2" -> 250000L), s"$t")
  }

  test("hygiene route: live flags equal the batch classification, dirty split clean") {
    import spark.implicits._
    implicit val sqlc = spark.sqlContext
    val rows = Seq(
      (1L, "good text \uFFFD here", "s1"),
      (2L, "clean", "s1"),
      (3L, "bell\u0007ring", "s2"),
      (4L, "wide   gap", "s2"))
    val batch = TextAnalysis.encodingFlags(
      rows.toDF("doc_id", "text", "source")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("r"),
        r.getAs[Long]("c"), r.getAs[Long]("m"), r.getAs[Long]("rm"))).toSet
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    val q = graft.streaming.TextStreams.hygieneRoute(
      input.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("hyg")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
    try {
      input.addData(rows.take(2)); input.addData(rows.drop(2))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT * FROM hyg").collect()
    val streamed = got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("r"),
      r.getAs[Long]("c"), r.getAs[Long]("m"), r.getAs[Long]("rm"))).toSet
    assert(streamed === batch)
    val dirty = got.filter(_.getAs[Boolean]("is_dirty"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(dirty === Set(1L, 3L, 4L))
  }

  test("encoding audit: each damage class counted once, removal chars exact") {
    import spark.implicits._
    // s1: mojibake doc — dropping the U+FFFD leaves its two flanking
    // spaces adjacent, and the collapse takes one more (2 removed);
    // s2: control byte (1) plus a 3-space run, where ONE left-to-
    // right non-overlapping pass removes exactly one space (the
    // replace semantics both engines share — not a full collapse)
    val docs = Seq(
      (1L, "good text \uFFFD here", "s1"),
      (2L, "clean", "s1"),
      (3L, "bell\u0007ring", "s2"),
      (4L, "wide   gap", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.encodingAudit(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_replacement"), r.getAs[Long]("n_control"),
          r.getAs[Long]("n_multispace"), r.getAs[Long]("dirty_docs"),
          r.getAs[Long]("chars_removed"), r.getAs[Long]("dirty_ppm")))).toMap
    assert(got === Map(
      "s1" -> ((1L, 0L, 0L, 1L, 2L, 500000L)),
      "s2" -> ((0L, 1L, 1L, 2L, 2L, 1000000L))), s"$got")
    // the damage generator plants each class where its rule says
    val fed = TextAnalysis.corruptEncoding(
      Seq((11L, "a", "s"), (13L, "b", "s"), (17L, "c", "s"), (1L, "d", "s"))
        .toDF("doc_id", "text", "source"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(fed(11L) === "a \uFFFD" && fed(13L) === "b\u0007" &&
      fed(17L) === "c  x" && fed(1L) === "d")
  }
}
