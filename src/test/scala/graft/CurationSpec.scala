package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

/** Cross-query contracts of the curation capstones: the audit's verdict
  * partition must agree with the manifests it explains, and the landed
  * manifest table must actually prune on its partition keys.
  */
class CurationSpec extends SparkSpecBase {

  test("c03 audit partitions the corpus; kept set equals c02's manifest ids") {
    try {
      val nDocs = Tables.documents(spark, sf).count()
      val audit = Curation.c03_curation_audit(spark, sf).cache()
      assert(audit.count() === nDocs, "audit must verdict every document exactly once")
      assert(audit.groupBy(col("doc_id")).count().where(col("count") > 1).count() === 0)
      val kept = audit.where(col("stage") === "kept").select(col("doc_id"))
      val manifest = Curation.c02_curated_manifest(spark, sf).select(col("doc_id"))
      assert(kept.exceptAll(manifest).count() === 0 &&
        manifest.exceptAll(kept).count() === 0,
        "audit 'kept' set must equal the c02 manifest id set")
    } finally spark.catalog.clearCache()
  }

  test("c03 stage labels are exactly the gate order taxonomy") {
    try {
      val stages = Curation.c03_curation_audit(spark, sf)
        .select(col("stage")).distinct().collect().map(_.getString(0)).toSet
      val legal = Set("1_heuristic", "2_duplicate", "3_contaminated",
        "4_sampled_out", "5_repetition", "6_perplexity", "7_classifier", "kept")
      assert(stages.subsetOf(legal), s"unknown stage labels: ${stages -- legal}")
      assert(stages.contains("kept"), "fixture must keep at least one document")
    } finally spark.catalog.clearCache()
  }

  /** The sf corpus never trips the Gopher thresholds (max top2 0.167,
    * dup5 all zero), so the repetition gate's REJECT path is proven
    * here on a constructed corpus: one document passes every heuristic
    * but repeats a 12-token sentence verbatim (duplicated-5-gram
    * coverage 16/56 ≈ 0.29 > 0.15) — it must land at 5_repetition in
    * the audit and be absent from c02's manifest, while the normal
    * documents flow through to later stages or 'kept'.
    */
  test("repetition gate rejects a constructed repetitive doc at stage 5") {
    val dir = Tables.scratchDir("graft_repcorpus_")
    val connectors = Vector("the", "and", "of", "to", "in", "a")
    val content = Vector("fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "group", "join", "filter", "window", "row", "stream",
      "customer", "data", "query", "spark", "index", "plan", "hash", "batch",
      "node", "shard", "range", "value", "count", "store", "cache", "disk")
    def soup(seed: Int, n: Int): String = {
      val rnd = new scala.util.Random(seed)
      (0 until n).map(i =>
        if (i % 3 == 0) connectors(rnd.nextInt(connectors.size))
        else content(rnd.nextInt(content.size))).mkString(" ")
    }
    val sentence = "the quick brown fox jumps over a lazy dog in green fields"
    val repId = 7L
    val repText = s"${soup(100, 18)} $sentence ${soup(200, 18)} $sentence"
    val rows = (1 to 24).map { i =>
      val text = if (i.toLong == repId) repText else soup(i, 60)
      (i.toLong, text, "xx", s"src${i % 3}", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      plans.GraftExtensions.register(spark)
      // Precondition: the repetitive doc passes the heuristic+language
      // gates, so only the repetition stage can reject it this early.
      val pre = Tables.documents(spark, dir).where(col("doc_id") === repId)
        .select((operators.TextAnalysis.prepQualityCol >= 2 &&
          operators.TextAnalysis.prepEnOkCol).as("heur_ok"))
        .collect()
      assert(pre.length == 1 && pre(0).getBoolean(0),
        "fixture drift: the repetitive doc no longer passes the heuristics")
      val audit = Curation.c03_curation_audit(spark, dir).cache()
      val repStage = audit.where(col("doc_id") === repId)
        .select(col("stage")).collect().map(_.getString(0))
      assert(repStage.sameElements(Array("5_repetition")),
        s"repetitive doc verdict was ${repStage.mkString(",")}")
      val manifestIds = Curation.c02_curated_manifest(spark, dir)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(!manifestIds.contains(repId), "repetitive doc leaked into the manifest")
      assert(manifestIds.nonEmpty, "fixture must keep at least one normal document")
      val kept = audit.where(col("stage") === "kept")
        .collect().map(_.getLong(0)).toSet
      assert(kept == manifestIds, "audit kept set must equal c02 ids on this corpus too")
    } finally spark.catalog.clearCache()
  }

  test("c05 profile partitions the corpus and its picks are exact order statistics") {
    try {
      val prof = Curation.c05_curation_profile(spark, sf).collect()
        .map(r => r.getString(0) -> r).toMap
      val nDocs = Tables.documents(spark, sf).count()
      assert(prof.values.map(_.getAs[Long]("n_docs")).sum === nDocs,
        "stage doc counts must partition the corpus")
      // re-derive the kept stage's picks from raw token counts
      val keptIds = Curation.c03_curation_audit(spark, sf)
        .where(col("stage") === "kept").collect().map(_.getLong(0)).toSet
      val toks = Tables.documents(spark, sf)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .collect().filter(r => keptIds(r.getLong(0)))
        .sortBy(r => (r.getLong(1), r.getLong(0))).map(_.getLong(1)).toVector
      val kept = prof("kept")
      assert(kept.getAs[Long]("n_docs") === toks.size.toLong)
      assert(kept.getAs[Long]("total_tokens") === toks.sum)
      for ((q, c) <- Seq(0.5 -> "p50_tok", 0.9 -> "p90_tok", 0.99 -> "p99_tok"))
        assert(kept.getAs[Long](c) === toks(math.ceil(q * toks.size).toInt - 1),
          s"$c must be the exact picked order statistic")
    } finally spark.catalog.clearCache()
  }

  test("c06 admits only genuinely new delta docs; planted copies never reach the manifest") {
    val rows = try graft.operators.Curation
        .queries("c06_incremental_manifest")(spark, sf).collect()
      finally spark.catalog.clearCache()
    assert(rows.nonEmpty, "the delta must contribute manifest rows")
    val ids = rows.map(_.getLong(0))
    assert(ids.forall(_ < 1000000L),
      "a planted copy (within-delta or standing) reached the incremental manifest")
    assert(ids.forall(id => id % 10 == 0),
      "a non-delta doc_id reached the incremental manifest")
  }

  /** The mixture control loop's three steps must cohere: the DECISION
    * (mixtureRates) is exactly the MONITOR's boost (t19) floored to
    * basis points; the ACT step (c07) keeps everything in
    * under-represented domains and sheds over-represented ones at a
    * frequency matching their rate (binomial tolerance on the
    * deterministic hash sample).
    */
  test("c07 mixture loop: rates are t19's boost in basis points and the resample hits them") {
    val t19 = graft.operators.TextAnalysis.t19_domain_mixture(spark, sf)
      .select(col("lang"), col("source"), col("n_docs"), col("boost"))
    val rates = graft.operators.TextAnalysis.mixtureRates(spark, sf)
    try {
      val joined = t19.join(rates, Seq("lang", "source")).cache()
      assert(joined.count() === t19.count(),
        "every monitored domain must receive a decision")
      assert(joined.where(
        floor(least(lit(10000.0), col("boost") * 10000.0)).cast("long") =!= col("rate_micro"))
        .count() === 0,
        "decision must be the monitor's boost floored to basis points")
      val keptPer = Curation.c07_mixture_resample(spark, sf)
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_kept"))
      val audit = joined.join(keptPer, Seq("lang", "source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .collect()
      audit.foreach { r =>
        val (nDocs, nKept) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
        val rate = r.getAs[Long]("rate_micro")
        assert(rate >= 0L && rate <= 10000L)
        if (rate == 10000L)
          assert(nKept === nDocs, s"full-rate domain must keep every doc: $r")
        else {
          val p = rate.toDouble / 10000.0
          val tol = 4.0 * math.sqrt(nDocs * p * (1 - p)) + 1.0
          assert(math.abs(nKept - nDocs * p) <= tol,
            s"kept count ${nKept} too far from ${nDocs * p} (tol $tol): $r")
        }
      }
      assert(audit.exists(_.getAs[Long]("rate_micro") < 10000L),
        "fixture must contain at least one down-sampled domain")
    } finally spark.catalog.clearCache()
  }

  /** The sf fixture's delta slice is uniform in language and length
    * (t24 must stay quiet on those) but its source allocation
    * correlates with doc_id — the 1-in-10 slice carries sources the
    * standing corpus never sees, a REAL mixture shift the monitor
    * must flag (the fixture hands us a positive case for free). The
    * constructed corpus then proves the lang path: a delta batch
    * whose language mixture is swapped entirely must trip the 0.2
    * PSI line while the deliberately-unshifted length profile stays
    * below it.
    */
  test("t24 drift monitor: quiet on uniform features, trips on shifted mixes") {
    val T = graft.operators.TextAnalysis
    val calm = T.t24_drift_psi(spark, sf).collect()
    assert(calm.nonEmpty)
    calm.filter(r => Set("lang", "len")(r.getAs[String]("feature"))).foreach(r =>
      assert(!r.getAs[Boolean]("drift"),
        s"uniformly sliced feature must not register drift: $r"))
    assert(calm.filter(_.getAs[String]("feature") == "source")
      .forall(_.getAs[Boolean]("drift")),
      "the fixture's doc_id-correlated source allocation is a real shift t24 must flag")
    calm.groupBy(_.getAs[String]("feature")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("psi_pico")).distinct.length === 1,
        "psi_pico must be constant within a feature")
      assert(rows.head.getAs[Long]("psi_pico") ===
        rows.map(_.getAs[Long]("contrib_pico")).sum,
        "per-feature psi must equal the sum of its bucket contributions")
    }
    val dir = Tables.scratchDir("graft_driftcorpus_")
    val langs = Vector("en", "fr", "de")
    val text = (1 to 50).map(i => s"w$i").mkString(" ")
    val rows = (1 to 200).map { i =>
      val lang = if (i % 10 == 0) "zz" else langs(i % 3)
      (i.toLong, text, lang, s"src${i % 4}", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shifted = T.t24_drift_psi(spark, dir).collect()
      .groupBy(_.getAs[String]("feature"))
    assert(shifted("lang").forall(_.getAs[Boolean]("drift")),
      "a fully swapped delta language mix must trip the PSI line")
    assert(shifted("len").forall(!_.getAs[Boolean]("drift")),
      "the unshifted length profile must stay below the PSI line")
  }

  /** Closes the fourth loop end-to-end on the fixture: t24 flags only
    * the source feature (previous spec), so every c08 quarantine must
    * name "source", and a delta doc is quarantined EXACTLY when its
    * own source bucket is over-represented — the decision relation IS
    * the act, re-derived independently here.
    */
  test("c08 drift gate: quarantines exactly the over-represented buckets of the drifted feature") {
    val T = graft.operators.TextAnalysis
    val out = Curation.c08_drift_gated_admission(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val admitted = r.getAs[Boolean]("admitted")
      assert(admitted === (r.getAs[Long]("n_trips") == 0L),
        s"admitted must mean zero trips: $r")
      assert(admitted === (r.getAs[String]("trip_feature") == null),
        s"a quarantined doc must name its first tripping feature: $r")
    }
    assert(out.exists(!_.getAs[Boolean]("admitted")),
      "the fixture's source shift must quarantine some delta docs")
    out.filter(!_.getAs[Boolean]("admitted")).foreach(r =>
      assert(r.getAs[String]("trip_feature") === "source",
        s"only the source feature drifts in the fixture: $r"))
    val overSrc = T.driftVerdicts(spark, sf)
      .where(col("feature") === "source" && col("drift") && col("over"))
      .collect().map(_.getAs[String]("bucket")).toSet
    assert(overSrc.nonEmpty, "the shifted source buckets must be decided tripped")
    val srcOf = Tables.documents(spark, sf).where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    out.foreach { r =>
      val tripped = overSrc(srcOf(r.getAs[Long]("doc_id")))
      assert(r.getAs[Boolean]("admitted") === !tripped,
        s"doc ${r.getAs[Long]("doc_id")}: gate verdict must equal its bucket's decision")
    }
  }

  /** The ARMED path of c06's drift front door, on a constructed
    * PARTIAL source shift (the driver fixture's delta is a total
    * shift, where the circuit breaker correctly disarms): one third
    * of the delta carries a delta-only source — under the 40 % refuse
    * cap — so the gate must drop exactly those docs and pass the
    * rest; and on the real fixture the breaker must disarm (gated
    * delta ≡ delta).
    */
  test("c06 drift front door: selective when armed, disarmed on mass quarantine") {
    val T = graft.operators.TextAnalysis
    val dir = Tables.scratchDir("graft_gatecorpus_")
    val text = (1 to 40).map(i => s"w$i").mkString(" ")
    import spark.implicits._
    val rows = (1 to 300).map { i =>
      // (i/3)%4 spreads sources evenly over the %10 delta slice too —
      // an i%4 source would make EVERY delta source over-represented
      // (multiples of 10 are even) and re-create the total shift
      val src = if (i % 10 == 0 && i % 30 == 0) "evil" else s"src${(i / 3) % 4}"
      (i.toLong, s"$text $i", "en", src, (text.length + 4).toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val delta = Tables.documents(spark, dir).where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"), col("source"))
    val gated = Curation.driftGatedDelta(spark, dir, delta)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val all = delta.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val evil = all.filter(_ % 30 == 0)
    assert(evil.nonEmpty && evil.size * 100 <= all.size * 40,
      "fixture must sit under the refuse cap so the gate arms")
    assert(gated === all -- evil,
      "armed gate must drop exactly the tripped-source docs")
    val realDelta = Tables.documents(spark, sf).where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"), col("source"))
    assert(Curation.driftGatedDelta(spark, sf, realDelta).count() === realDelta.count(),
      "a total-shift delta must disarm the breaker, not vanish")
  }

  test("t25: every document decodes losslessly through the trained tokenizer") {
    val out = graft.operators.TextAnalysis.t25_bpe_decode(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getAs[Boolean]("decoded_ok"),
      s"BPE decode corrupted doc ${r.getAs[Long]("doc_id")}"))
  }

  test("c04 real-manifest read-back prunes on (split, shard) at the directory level") {
    try {
      val q = Curation.c04_manifest_table(spark, sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"no partition filter in plan:\n$plan")
      val files = q.select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0))
      assert(files.nonEmpty, "pruned read-back must still scan the matching partitions")
      assert(files.forall(f => f.contains("split=train") &&
        "shard=(\\d+)".r.findFirstMatchIn(f).exists(_.group(1).toInt < 8)),
        s"scanned a non-matching partition directory:\n${files.mkString("\n")}")
    } finally spark.catalog.clearCache()
  }

  test("entropyOf char_counts kernel = per-char explode formulation (r18 parity lock)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "hello world"),
      (2L, "é世界 mixed utf8 😀😀"),
      (3L, "A"),
      (4L, "zzzz\t\nzzzz aaa"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val fast = rows(graft.operators.TextAnalysis.entropyOf(docs))
    val slow = rows(Builtins.entropyOfBuiltin(docs))
    assert(fast.nonEmpty && fast === slow)
  }

  test("repSignals rep_stats kernel = exploded two-exchange formulation (r18 parity lock)") {
    import spark.implicits._
    val rep = "spam ham " * 30 // trips top2 (and dup5)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and the dog sleeps"),
      (2L, rep.trim), // pathological repetition: every gate trips
      (3L, "a b"), // bigram only: top3/dup5 fractions must be NULL
      (4L, "one two three four"), // 2/3-gram families, no 5-gram
      (5L, "single"), // no bigram position: NO output row
      (6L, ""), // empty text: NO output row
      (7L, "x y x y x y z q r s t u v w")) // mid-range fractions
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)), Option(r.get(4)),
          Option(r.get(5)))).toSeq
    val fast = rows(graft.operators.TextAnalysis.repSignals(spark, docs))
    val slow = rows(Builtins.repSignalsBuiltin(spark, docs))
    assert(fast.nonEmpty && fast === slow)
    assert(fast.map(_._1) === Seq(1L, 2L, 3L, 4L, 7L),
      "docs with no bigram position must emit no row")
  }
}
