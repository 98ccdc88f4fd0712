package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.functions.Portable

/** Deduplication operators for LLM training-data pipelines, over the
  * `documents` table: exact (content-hash groupBy), MinHash+LSH
  * near-dup, SimHash near-dup, and exact n-gram-Jaccard near-dup via an
  * inverted index. All candidate generation is bucketed — there is no
  * cross product anywhere; every pairing join is an equi-join on a
  * bucket key (band hash, simhash band, or shingle), which shuffles
  * both sides once on that key and scales horizontally.
  *
  * The testdata corpus has no natural duplicates (500 distinct texts at
  * sf0.01), so each query derives its corpus as documents ∪ copies:
  * exact copies for d01, head-truncated near-copies (first 5 tokens
  * dropped) for d02-d04 — making every differential check non-vacuous.
  *
  * All hashing goes through [[graft.functions.Portable]] (md5-based,
  * engine-portable) so the DuckDB oracles compute bit-identical values.
  * Scale notes per operator below; no UDFs, no collects — everything is
  * Catalyst built-ins (codegen'd) + higher-order array functions.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------------
  // shared corpus + shingling
  // ------------------------------------------------------------------

  /** documents ∪ exact copies of every 10th doc (ids offset by 1e6). */
  private def exactDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(
      d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
  }

  private val duckExactCorpus =
    """corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
       )"""

  /** `text` with its first 5 whitespace tokens dropped — the planted
    * near-copy derivation shared by [[nearDupCorpus]]/[[evalSet]] and
    * the streaming twin (st12). The slice bound is length-derived
    * (`size(arr)` — a length past the end is legal and truncates), so
    * it matches the DuckDB twins' unbounded `[6:]` slice for ANY
    * document length (a fixed big-literal bound would diverge on a
    * pathological >bound-token doc).
    */
  private[graft] def dropHead5(text: Column): Column = {
    val arr = split(text, " ")
    array_join(slice(arr, lit(6), size(arr)), " ")
  }

  /** documents ∪ near-copies (first 5 tokens dropped) of every 10th doc:
    * head-truncation keeps ~90% of 3-gram shingles → Jaccard ≈ 0.9
    * against the original, well above the 0.5 detection threshold.
    */
  private def nearDupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(
      d.where(col("doc_id") % 10 === 0)
        .select(
          (col("doc_id") + 1000000L).as("doc_id"),
          dropHead5(col("text")).as("text")))
  }

  private val duckNearCorpus =
    """corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000,
                array_to_string(string_split(text, ' ')[6:], ' ')
         FROM documents WHERE doc_id % 10 = 0
       )"""

  /** Distinct 3-gram word shingles of `text` — the codegen'd
    * `word_shingles3` expression ([[graft.functions.WordShingles3]];
    * parity-locked against the test-scope `Builtins.shinglesBuiltin` by
    * `WordShingles3Spec`).
    * Requires [[graft.plans.GraftExtensions]] registration.
    */
  private[graft] def shingles(text: Column): Column =
    call_function("word_shingles3", text)

  /** `hash60_arr(shingles(text))` fused into one pass over the
    * document's bytes — the r19 `shingle_hash60` kernel
    * ([[graft.functions.ShingleHash60]]; guide §4). Every index build
    * that goes straight from text to hashed shingles rides this; the
    * unfused [[shingles]] stays for consumers that need the shingle
    * STRINGS (t40's novelty keys, t43's leakage join, st83's prefixed
    * sketch hash).
    */
  private[graft] def shingleHashes(text: Column): Column =
    call_function("shingle_hash60", text)

  /** DuckDB twin of [[shingles]] as a bare expression over a `text`
    * column (shared with the streaming decontamination oracle).
    */
  private[graft] val duckShingleExpr =
    """list_distinct(list_transform(
         range(0, greatest(len(string_split(text, ' ')) - 2, 0)),
         i -> concat_ws(' ', string_split(text, ' ')[i+1],
                        string_split(text, ' ')[i+2],
                        string_split(text, ' ')[i+3])))"""

  /** DuckDB twin of [[shingles]]: distinct 3-gram shingle list. */
  private val duckShingles =
    s"""sh AS (
         SELECT doc_id, $duckShingleExpr AS shd
         FROM corpus
       )"""

  // ------------------------------------------------------------------
  // d01 — exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup: group by content hash, keep the lowest doc_id
    * (deterministic survivor), count copies. One shuffle on the hash;
    * partial aggregation combines map-side. At 100 TB this is the
    * standard first dedup pass — the 64-hex md5 key is ~2× the text it
    * replaces in the shuffle for short docs but constant for long ones.
    */
  val d01_exact_dedup: Q = (spark, dir) => {
    exactDupCorpus(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  /** d06 — dedup materialization: retrieve the surviving rows (the
    * user-facing output of exact dedup — d01 identifies keepers, this
    * joins them back to full rows). The keeper set is an aggregation
    * over the same hash key, so Catalyst co-partitions the join with
    * the groupBy — one logical shuffle on the content hash.
    */
  val d06_dedup_materialize: Q = (spark, dir) => {
    val corpus = exactDupCorpus(spark, dir)
      .withColumn("h", md5(col("text"))).alias("c")
    val keepers = corpus.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper_id")).alias("k")
    corpus.join(keepers,
        col("c.h") === col("k.h") && col("c.doc_id") === col("k.keeper_id"))
      .select(col("c.doc_id").as("doc_id"), col("c.h").as("content_hash"))
  }

  // ------------------------------------------------------------------
  // d02 — MinHash + LSH near-dup
  // ------------------------------------------------------------------

  private[graft] val NumHashes = 12

  /** Recall target the dedup lifecycle tunes for: the banding must
    * capture ≥ this fraction of the exact-Jaccard (J ≥ 0.5) pairs.
    */
  private[graft] val TargetRecall = 0.95

  /** The banding [[d02_minhash_lsh]] (and the production dedup run)
    * executes under — [[pickBanding]]'s choice on the d09 sweep
    * (4 bands × 3 rows: P(miss | J=0.9) = (1-0.9³)⁴ ≈ 0.5%).
    * `DedupSpec` asserts the pick: the decision helper applied to the
    * fixture sweep returns exactly this pair, closing the
    * monitor (d09) → decide (pickBanding) → act (d02) loop the same
    * way the ANN index lifecycle closes
    * indexHealth → retrainNeeded → maintainIndex.
    */
  private[graft] val PickedBanding: (Int, Int) = (4, 3)

  /** DEDUP-TUNING DECISION: from [[d09_lsh_tuning]]'s sweep table,
    * pick the banding meeting `targetRecall` with the best precision
    * (ties → the stricter config, i.e. more rows per band — fewer
    * candidate pairs at equal measured quality). Driver-side over a
    * |configs|-row table — the documented bounded eager contract
    * (the d07 convergence-count / indexHealth pattern). Falls back to
    * the highest-recall config if nothing meets the target (a sweep on
    * a pathological corpus must still return a runnable config).
    */
  def pickBanding(sweep: DataFrame, targetRecall: Double = TargetRecall): (Int, Int) = {
    // bounded driver read: the sweep has one row per banding config
    // (≤ |LshSweep| = 6; 64 is a safety margin) — the indexHealth
    // 1-row-head contract, not a data collect
    val rows = sweep
      .select(col("n_bands"), col("n_rows"), col("prec"), col("recall"))
      .head(64)
      .filter(r => !r.isNullAt(2) && !r.isNullAt(3))
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    require(rows.nonEmpty, "sweep has no config with measurable precision+recall")
    val viable = rows.filter(_._4 >= targetRecall)
    val best =
      if (viable.nonEmpty) viable.maxBy(r => (r._3, r._2))
      else rows.maxBy(r => (r._4, r._3, r._2))
    (best._1, best._2)
  }

  /** The (band, band-key) struct array of an `mh` signature column
    * under an (nBands × nRows) banding — shared by d02 (the picked
    * config) and d09 (every config at once).
    */
  private def minhashBandStructs(nBands: Int, nRows: Int) =
    (0 until nBands).map { b =>
      struct(
        lit(b).as("band"),
        concat_ws("_",
          (1 to nRows).map(r => element_at(col("mh"), nRows * b + r)): _*).as("bkey"))
    }

  /** MinHash+LSH near-dup pairs: shingle → 12-way minhash signature →
    * [[PickedBanding]] bands/rows → bucket-join on (band, band-key) →
    * exact Jaccard verify ≥ 0.5 on the surviving candidates.
    *
    * Scale shape: candidate generation is an equi-join on the band key
    * (O(n·bands) rows shuffled, never all-pairs); the exact verify then
    * re-joins the two shingle sets by doc id — so signatures, not full
    * shingle arrays, flow through the wide self-join. Skewed buckets
    * (a degenerate band key shared by many docs) are the known failure
    * mode; AQE skew-join splitting handles moderate skew, and a bucket
    * df-cap (drop pathological buckets) is the documented escape hatch
    * at extreme scale.
    */
  val d02_minhash_lsh: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    // One fused pass from text to hashed shingles (r19 shingle_hash60;
    // previously word_shingles3 then hash60_arr), then ALL 12 xor-mixed
    // minima in one codegen'd pass (minhash_mins — the builtin form ran
    // 12 interpreted transform/array_min passes per row). The hashed
    // table is used by THREE plan branches (signatures + both verify
    // sides); without persist each branch would recompute the md5 pass,
    // so it is cached (spills to disk, LRU-evicted under pressure) —
    // the standard shape for a multi-use dedup intermediate.
    val hs = nearDupCorpus(spark, dir)
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seedsCsv = Portable.xorSeeds.take(NumHashes).mkString(",")
    val mh = hs.select(col("doc_id"),
      call_function("minhash_mins", col("hs"), lit(seedsCsv)).as("mh"))

    val (nb, nr) = PickedBanding
    val bands = mh.select(
      col("doc_id"),
      explode(array(minhashBandStructs(nb, nr): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

    val a = bands.alias("a")
    val b = bands.alias("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    // exact verify over the HASHED shingle sets (longs, not 3-gram
    // strings — ~3× smaller shuffle; the oracle hashes identically, so
    // the comparison stays engine-exact)
    val x = hs.select(col("doc_id").as("doc_a"), col("hs").as("sha"))
    val y = hs.select(col("doc_id").as("doc_b"), col("hs").as("shb"))
    // LAZY result: the hashed intermediate stays persist()-marked in
    // the plan (populated by the caller's first action; block-level
    // locks make concurrent branch reads compute each partition once),
    // and unpersist is the CALLER's job — Verify/Bench clear the cache
    // after materializing each query, keeping the `(spark, dir) =>
    // DataFrame` contract pure (no eager job at construction time).
    cand.join(x, "doc_a").join(y, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  private def duckMinhashSql: String = {
    val (nBands, nRows) = PickedBanding
    val mhs = (0 until NumHashes).map(i =>
      s"list_min(list_transform(hs, h -> ${Portable.duckXorMix(i, "h")}))").mkString("[", ", ", "]")
    val bandKeys = (0 until nBands).map(b =>
      (1 to nRows).map(r => s"mhs[${nRows * b + r}]")
        .mkString("concat_ws('_', ", ", ", ")"))
    s"""WITH $duckNearCorpus, $duckShingles,
        shn AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
        hsx AS (SELECT doc_id,
                       list_transform(shd, s -> ${Portable.duckHash60("s")}) AS hs
                FROM shn),
        mh AS (SELECT doc_id, $mhs AS mhs FROM hsx),
        bands AS (
          SELECT doc_id, t.band,
                 CASE ${bandKeys.zipWithIndex.map { case (k, b) => s"WHEN t.band = $b THEN $k" }.mkString(" ")} END AS bkey
          FROM mh, (SELECT unnest([${(0 until nBands).mkString(",")}]) AS band) t),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        j AS (
          SELECT doc_a, doc_b,
                 CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE) AS jaccard
          FROM cand JOIN hsx x ON x.doc_id = doc_a JOIN hsx y ON y.doc_id = doc_b)
        SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5"""
  }

  /** (band, bkey) rows of a hashed-shingle frame `hs(idCol, hs, …)`
    * under [[PickedBanding]], carrying `carry` columns through — the
    * signature/banding step shared by d12's two sides and the ingest
    * twin st38 (where the delta side is a STREAM: every step here is
    * a stateless projection, so it lifts to micro-batches unchanged).
    */
  private[graft] def pickedBandRows(hs: DataFrame, idCol: String,
      carry: Seq[String]): DataFrame = {
    val (nb, nr) = PickedBanding
    val seedsCsv = Portable.xorSeeds.take(NumHashes).mkString(",")
    val keep = col(idCol) +: carry.map(col)
    hs.select(keep :+
        call_function("minhash_mins", col("hs"), lit(seedsCsv)).as("mh"): _*)
      .select(keep :+ explode(array(minhashBandStructs(nb, nr): _*)).as("bb"): _*)
      .select(keep :+ col("bb.band").as("band") :+ col("bb.bkey").as("bkey"): _*)
  }

  /** [[d12_incremental_neardup]]'s DuckDB twin: the d02 oracle chain
    * instantiated once per corpus side, candidates delta→standing.
    */
  private def duckIncNearDupSql: String = {
    val (nBands, nRows) = PickedBanding
    val mhs = (0 until NumHashes).map(i =>
      s"list_min(list_transform(hs, h -> ${Portable.duckXorMix(i, "h")}))").mkString("[", ", ", "]")
    val bandKeys = (0 until nBands).map(b =>
      (1 to nRows).map(r => s"mhs[${nRows * b + r}]")
        .mkString("concat_ws('_', ", ", ", ")"))
    def chain(tag: String, corpus: String) =
      s"""sh$tag AS (SELECT doc_id, $duckShingleExpr AS shd FROM $corpus),
          shn$tag AS (SELECT doc_id, shd FROM sh$tag WHERE len(shd) > 0),
          hsx$tag AS (SELECT doc_id,
                             list_transform(shd, s -> ${Portable.duckHash60("s")}) AS hs
                      FROM shn$tag),
          mh$tag AS (SELECT doc_id, $mhs AS mhs FROM hsx$tag),
          bands$tag AS (
            SELECT doc_id, t.band,
                   CASE ${bandKeys.zipWithIndex.map { case (k, b) => s"WHEN t.band = $b THEN $k" }.mkString(" ")} END AS bkey
            FROM mh$tag, (SELECT unnest([${(0 until nBands).mkString(",")}]) AS band) t)"""
    s"""WITH standing AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                  UNION ALL
                  SELECT doc_id + 3000000 AS doc_id,
                         array_to_string(string_split(text, ' ')[6:], ' ') AS text
                  FROM standing WHERE doc_id % 9 = 2),
        ${chain("s", "standing")},
        ${chain("d", "delta")},
        cand AS (
          SELECT DISTINCT a.doc_id AS delta_id, b.doc_id AS standing_id
          FROM bandsd a JOIN bandss b ON a.band = b.band AND a.bkey = b.bkey),
        j AS (
          SELECT delta_id, standing_id,
                 CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE) AS jaccard
          FROM cand JOIN hsxd x ON x.doc_id = delta_id
                    JOIN hsxs y ON y.doc_id = standing_id)
        SELECT delta_id, standing_id, jaccard FROM j WHERE jaccard >= 0.5"""
  }

  // ------------------------------------------------------------------
  // d03 — SimHash near-dup
  // ------------------------------------------------------------------

  private val SimBits = 48
  private[graft] val SimBands = 6 // 8 bits each; hamming ≤ 5 ⇒ ≥1 band equal (pigeonhole)
  private[graft] val MaxHamming = 5

  /** 48-bit SimHash fingerprints for a (doc_id, text) corpus: per bit
    * position, strict majority vote of the token hashes (term frequency
    * preserved — repeated tokens vote repeatedly).
    *
    * Both passes are codegen'd custom expressions: `hash60_arr` digests
    * the tokens straight to longs, and `simhash48`
    * ([[graft.functions.Simhash48]]) folds the 48 per-bit majority
    * counters in one primitive loop. The builtin formulation (an
    * `aggregate`/`zip_with` chain) runs interpreted — higher-order
    * functions are CodegenFallback — and allocates a 48-element
    * accumulator per token; the expression replaces it bit-identically
    * (parity-locked by `Simhash48Spec`).
    */
  private[graft] def simhashFp(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("fp",
        call_function("simhash48",
          Portable.hash60Array(split(col("text"), " "))))
      .drop("text")

  /** Explode a relation carrying a SimHash `fp` column into its
    * (band, bkey) rows — 6 bands × 8 bits, the d03 banding, shared
    * with the streaming ingest-dedup twin (st12). All other columns
    * are carried through.
    */
  private[graft] def simhashBands(fps: DataFrame): DataFrame =
    fps
      .withColumn("bb", explode(array((0 until SimBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), 8 * b).bitwiseAND(lit(255L)).as("bkey"))
      }: _*)))
      .withColumn("band", col("bb.band"))
      .withColumn("bkey", col("bb.bkey"))
      .drop("bb")

  /** d35's blocking geometry: 16 ROTATIONS of the 48-bit fingerprint
    * (stride 3), each keyed on its TOP 16 BITS. Chosen against d03's
    * 6×8-bit pigeonhole banding for the candidate-volume envelope:
    * expected random-collision candidates are n²·T/2^bits — 16/2^16
    * here vs 6/2^8 there, a 96× smaller constant — which is what the
    * sf10 scale probe showed matters (see [[d35_simhash_rotblock]]).
    * Recall geometry: a pair at hamming h collides iff some rotation's
    * 16-bit window avoids all h flipped bits; each bit position lies
    * in ≤6 of the 16 stride-3 windows, so h ≤ 2 is GUARANTEED (≤12 of
    * 16 windows blocked) and h = 3..5 is probabilistic — measured
    * exactly by [[d36_rotblock_recall]] since d35 ⊆ d03 by
    * construction (every surviving pair passes the same hamming ≤ 5
    * verify, and any such pair is in d03's exact output by its
    * pigeonhole). Geometry picked by a DuckDB sweep at sf0.01
    * (recorded in SCALE_PROBE.md): denser rotations plateau — T=8/
    * stride-6 reads 0.783 overall on the fixture's pair mix, T=16/
    * stride-3 0.828, T=24/stride-2 only 0.846 (contiguous windows
    * over one bit order correlate) — while prefix width moves recall
    * AND cost an order of magnitude each way (12 bits: 0.975 recall
    * at only 6× under d03's constant; 20 bits: 0.535 at 2500×). 16
    * bits at T=16 is the knee.
    */
  private[graft] val RotCount = 16
  private[graft] val RotPrefixBits = 16
  private val Mask48 = (1L << 48) - 1

  /** Explode a relation carrying a SimHash `fp` into its (rot, bkey)
    * rows — [[RotCount]] rotations keyed on the top [[RotPrefixBits]]
    * bits. All other columns are carried through (the simhashBands
    * shape, different geometry).
    */
  private[graft] def rotBlocks(fps: DataFrame): DataFrame =
    fps
      .withColumn("rb", explode(array((0 until RotCount).map { r =>
        val s = 3 * r
        val rot =
          if (s == 0) col("fp")
          else shiftleft(col("fp"), s).bitwiseAND(lit(Mask48))
            .bitwiseOR(shiftrightunsigned(col("fp"), 48 - s))
        struct(lit(r).as("rot"),
          shiftrightunsigned(rot, 48 - RotPrefixBits).as("bkey"))
      }: _*)))
      .withColumn("rot", col("rb.rot"))
      .withColumn("bkey", col("rb.bkey"))
      .drop("rb")

  /** SimHash near-dup pairs: fingerprint → 6 bands of 8 bits → bucket
    * join on (band, byte) → hamming ≤ 5 filter. The banding is exact
    * for hamming ≤ 5 (pigeonhole: 5 differing bits across 6 bands leave
    * one band identical), approximate beyond. Bucket join = equi-join,
    * no cross product; fingerprints are 8 bytes so the shuffle carries
    * ids + longs only.
    *
    * Scale envelope (measured by the r17 sf10 probe): the 8-bit band
    * keys make random bucket population n/256, so the candidate join
    * carries an n²·6/2^8 term that is LATENT at the oracle SFs
    * (sf0.1: ~3·10⁵ candidates) and catastrophic two decades up
    * (sf10, 550k docs: ~3.5·10⁹ candidates — measured as a spill
    * past the probe host's 77 GB disk via [[d33x]]'s failed first
    * run). d03 stays the exact-recall regime — pigeonhole for the
    * full hamming ≤ 5 radius — and [[d35_simhash_rotblock]] is the
    * corpus-scale candidate path (96× smaller collision constant,
    * guaranteed only to hamming ≤ 2, recall measured by d36).
    */
  val d03_simhash: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val bands = simhashBands(simhashFp(nearDupCorpus(spark, dir)))

    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxHamming)
  }

  /** DuckDB CTE chain `tok, fp, bands` computing the SimHash banding
    * over a `corpus(doc_id, text)` CTE — shared by d03's oracle and
    * the streaming twin's (st12).
    */
  private[graft] def duckSimhashBandsSql: String = {
    val bitSum = (0 until SimBits).map { k =>
      s"(CASE WHEN 2 * len(list_filter(th, h -> ((h >> $k) & 1) = 1)) > len(th) THEN 1 ELSE 0 END)::BIGINT * (${1L << k}::BIGINT)"
    }.mkString(" + ")
    s"""tok AS (SELECT doc_id,
                       list_transform(string_split(text, ' '), t -> ${Portable.duckHash60("t")}) AS th
                FROM corpus),
        fp AS (SELECT doc_id, ($bitSum) AS fp FROM tok),
        bands AS (SELECT doc_id, fp, t.band, (fp >> (8 * t.band)) & 255 AS bkey
                  FROM fp, (SELECT unnest([${(0 until SimBands).mkString(",")}]) AS band) t)"""
  }

  /** DuckDB twin of the d02-d04 near-dup corpus (exposed for st12). */
  private[graft] def duckNearCorpusSql: String = duckNearCorpus

  private def duckSimhashSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql,
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= $MaxHamming"""

  /** d35 — SIMHASH CANDIDATES AT CORPUS SCALE (rotation + wide-prefix
    * blocking): the 100 TB candidate path the r17 sf10 probe forced
    * into existence. The probe measured d03's latent quadratic —
    * 8-bit band keys saturate at ~10⁵ docs and the candidate join
    * grows n²·6/2^8 (at sf10 it spilled past the probe host's disk) —
    * so this operator re-keys the SAME fingerprints on [[RotCount]]
    * rotations × top-[[RotPrefixBits]] bits: a 96× smaller random-
    * collision constant (n²·16/2^16), the Manku-Charikar rotate-and-
    * block family re-expressed as one explode + equi-join. Verify is
    * unchanged (exact hamming ≤ [[MaxHamming]] on the 48-bit fp), so
    * output ⊆ d03 provably; recall is pigeonhole-GUARANTEED to
    * hamming ≤ 2 (each bit sits in ≤6 of 16 stride-3 windows) and
    * measured for 3..5 by [[d36_rotblock_recall]]. At 10⁹+ docs the
    * documented next notch is RotPrefixBits 16→24 (same plan, 256×
    * fewer random collisions again, recall re-measured by d36).
    *
    * Cites the reference's dedup intent (realtime/app/Dau.scala's
    * jedis-SADD distinct discipline applied corpus-wide); the
    * geometry is public simhash-blocking practice.
    *
    * Since r18 this candidate path KEYS the shared [[simhashEdges]]
    * artifact, so every graph consumer (d07/d14/d19/d22/d23/d24/d25/
    * d27/d28/d29/d30/d31/d33x/d34/d37) inherits its envelope; d03's
    * exact-recall banding survives as [[bandEdges]] (d33's anchor).
    */
  val d35_simhash_rotblock: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val blocks = rotBlocks(simhashFp(nearDupCorpus(spark, dir)))
    val a = blocks.alias("a")
    val b = blocks.alias("b")
    a.join(b,
        col("a.rot") === col("b.rot") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= MaxHamming)
  }

  /** d36 — the ROTATION-BLOCK RECALL REPORT: one row — |d03's exact
    * pair set|, |d35's blocked pair set| (a subset by construction),
    * and the recall in exact per-mille. This is the number that
    * makes d35's probabilistic regime honest: the docstring claim
    * ("guaranteed to hamming ≤ 2, measured beyond") is an oracled
    * query, not prose — rerun it after any geometry change
    * (RotCount/RotPrefixBits) to re-price the recall side of the
    * 96× candidate-volume saving. Both counts ride the shared
    * fingerprint artifact chain; the splice is a 1-row broadcast
    * (the lit(true) scalar-join discipline, not a cross product).
    */
  val d36_rotblock_recall: Q = (spark, dir) => {
    val nE = d03_simhash(spark, dir)
      .agg(count(lit(1)).as("n_exact"))
    val nB = d35_simhash_rotblock(spark, dir)
      .agg(count(lit(1)).as("n_blocked"))
    nE.join(broadcast(nB), lit(true), "inner")
      .select(col("n_exact"), col("n_blocked"),
        // greatest-guard: on a degenerate corpus with zero exact pairs
        // Spark's `div` yields NULL while DuckDB's `//` errors — both
        // engines divide by max(n_exact, 1) so the differential holds
        // on every corpus (recall_pm = 0 when there is nothing to miss)
        expr("n_blocked * 1000 div greatest(n_exact, 1)").as("recall_pm"))
  }

  /** DuckDB twin of [[rotBlocks]] + the candidate join: per rotation
    * the left-shift is computed as ((fp & low) << s) | (fp >> 48-s)
    * with the low-mask applied FIRST — fp < 2^48 but fp << 42 would
    * overflow DuckDB's BIGINT (Spark's shiftleft wraps silently and
    * the 48-bit mask cleans up; DuckDB errors), so both engines get
    * the same overflow-free arithmetic.
    */
  private def duckRotCandSql: String = {
    val arms = (0 until RotCount).map { r =>
      val s = 3 * r
      val low = (1L << (48 - s)) - 1
      s"""SELECT doc_id, fp, $r AS rot,
                 (((fp & $low) << $s) | (fp >> ${48 - s}))
                   >> ${48 - RotPrefixBits} AS bkey FROM fp"""
    }.mkString(" UNION ALL ")
    s"""rblocks AS ($arms),
        rcand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM rblocks a JOIN rblocks b
            ON a.rot = b.rot AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
  }

  private def duckRotBlockSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckRotCandSql
        SELECT doc_a, doc_b, hamming FROM rcand
        WHERE hamming <= $MaxHamming"""

  private def duckRotRecallSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckBandPairCtes,
        $duckRotCandSql,
        rp AS (SELECT doc_a, doc_b FROM rcand WHERE hamming <= $MaxHamming)
        SELECT CAST((SELECT COUNT(*) FROM prs) AS BIGINT) AS n_exact,
               CAST((SELECT COUNT(*) FROM rp) AS BIGINT) AS n_blocked,
               CAST((SELECT COUNT(*) FROM rp) * 1000
                    // GREATEST((SELECT COUNT(*) FROM prs), 1)
                    AS BIGINT) AS recall_pm"""

  // ------------------------------------------------------------------
  // d04 — exact n-gram Jaccard via inverted index
  // ------------------------------------------------------------------

  /** Max documents a shingle may appear in and still enter the
    * inverted index. A shingle shared by df documents emits df² rows
    * from the self-join, so without a cap one stop-shingle ("of the
    * and") is a guaranteed hot-partition explosion at scale; capped
    * shingles carry no discrimination power, so Jaccard over the
    * *kept* shingle sets is the standard near-dup measure.
    */
  val DfCap = 100

  /** Exact 3-gram Jaccard near-dup pairs via a df-capped shingle
    * inverted index: explode (doc, shingle), drop stop-shingles with
    * document frequency > `dfCap`, self-equi-join on the shingle,
    * count intersections per pair, then Jaccard over the kept shingle
    * sets = |∩| / (|A|+|B|−|∩|) ≥ 0.5.
    *
    * Exact over the capped universe (no probabilistic miss). The df
    * filter is a window count over the same shingle key the self-join
    * shuffles on, so candidate generation costs ONE exchange: df-count,
    * filter and join all reuse one hash-partitioning on `s`, and the
    * worst per-shingle join fan-out is dfCap² by construction. d02
    * (MinHash) is the sub-quadratic scale path; this operator is the
    * exactness anchor.
    */
  /** The lazy pair plan plus the persisted index handle — split out so
    * the plan spec can assert the execution shape. `kept` (the
    * df-capped inverted index) feeds THREE branches (both self-join
    * sides and the per-doc sizes), so it is cached after its single
    * shuffle on `s`; the cache preserves that partitioning, so the
    * self-join reads co-partitioned input with no further exchange,
    * and the shingle/md5 pass runs exactly once.
    */
  /** The df-capped hashed-shingle inverted index over an arbitrary
    * (doc_id, text) corpus — d04's candidate machinery, shared with
    * d18's containment measure. One shuffle on the shingle hash `s`
    * (df-count, filter and the downstream self-join all reuse it);
    * persisted because every consumer reads it ≥3 times.
    */
  private[graft] def shingleIndex(corpus: DataFrame, dfCap: Int): DataFrame = {
    // inverted index over HASHED shingles: the self-equi-join shuffles
    // 8-byte longs instead of 3-gram strings (oracle hashes identically)
    val ex = corpus
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("doc_id"), explode(col("hs")).as("s"))
    // df-cap as a window count over the join key: one shuffle on s
    ex.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .where(col("df") <= dfCap)
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private[graft] def ngramJaccardPlan(spark: SparkSession, dir: String,
                                      dfCap: Int): (DataFrame, DataFrame) = {
    graft.plans.GraftExtensions.register(spark)
    val kept = shingleIndex(nearDupCorpus(spark, dir), dfCap)
    // per-doc sizes AFTER the cap (Jaccard over the kept universe)
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

    val a = kept.alias("a")
    val b = kept.alias("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))

    val pairs = inter
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= 0.5)
    (pairs, kept)
  }

  /** LAZY d04 result (see the d02 note: the caller materializes and
    * clears the persisted index — no eager write at construction).
    */
  def ngramJaccard(spark: SparkSession, dir: String, dfCap: Int): DataFrame =
    ngramJaccardPlan(spark, dir, dfCap)._1

  val d04_ngram_jaccard: Q = (spark, dir) => ngramJaccard(spark, dir, DfCap)

  private def duckNgramSql: String =
    s"""WITH $duckNearCorpus, $duckShingles,
        shn AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
        hsx AS (SELECT doc_id,
                       list_transform(shd, s -> ${Portable.duckHash60("s")}) AS hs
                FROM shn),
        ex0 AS (SELECT doc_id, unnest(hs) AS s FROM hsx),
        ex AS (SELECT doc_id, s FROM (
                 SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex0)
               WHERE df <= $DfCap),
        n AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
        i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) AS jaccard
        FROM i JOIN n x ON x.doc_id = doc_a JOIN n y ON y.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) >= 0.5"""

  // ------------------------------------------------------------------
  // d18 — asymmetric shingle containment (quote-inclusion dedup)
  // ------------------------------------------------------------------

  /** documents ∪ EXCERPTS (the first ⌈n/2⌉ tokens, min 3) of every
    * 17th doc — a planted "doc quoted inside a bigger doc" fixture:
    * every excerpt shingle appears in its source, so containment is
    * exactly 1000‰ while Jaccard sits near 0.5, d04's blind spot.
    */
  private def excerptHalf(text: Column): Column = {
    val toks = split(text, " ")
    concat_ws(" ", slice(toks, lit(1),
      greatest(((size(toks) + 1) / 2).cast("int"), lit(3))))
  }

  private def containmentCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    d.unionAll(
      d.where(col("doc_id") % 17 === 4)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          excerptHalf(col("text")).as("text")))
  }

  /** Minimum kept-shingle count for a containment verdict — a 3-token
    * quote "contained" everywhere is noise, not duplication.
    */
  val ContainMinShingles = 10

  /** d18 — ASYMMETRIC CONTAINMENT: |A∩B| / |A| over the df-capped
    * shingle universe, the measure that catches SUBSET duplication —
    * a document wholly quoted inside a longer one (press-release
    * reprints, license blocks grown into READMEs, chat logs quoting
    * chat logs). Jaccard (d04) divides by the UNION, so a short doc
    * inside a long one scores ~|A|/|B| and slips the 0.5 gate; the
    * fixture's half-excerpts score Jaccard ≈ 0.5 but containment
    * 1000‰ (spec-locked). Emits the DIRECTED pair (doc_sub ⊆
    * doc_sup, sub = the smaller kept-shingle set, tie → smaller id)
    * with the per-mille containment — exact integer division, both
    * engines truncating.
    *
    * Scale shape: identical to d04's — ONE exchange on the shingle
    * hash builds the df-capped inverted index ([[shingleIndex]],
    * shared code), the self-join reads it co-partitioned, pair
    * fan-out is bounded by dfCap², and the direction pick is
    * row-local post-aggregation. The sub-quadratic path at 100 TB is
    * d02's MinHash banding with this exact measure as the verifier.
    */
  val d18_containment: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val kept = shingleIndex(containmentCorpus(spark, dir), DfCap)
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val a = kept.alias("a")
    val b = kept.alias("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_x"), col("b.doc_id").as("doc_y"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(n.select(col("doc_id").as("doc_x"), col("n").as("nx")), "doc_x")
      .join(n.select(col("doc_id").as("doc_y"), col("n").as("ny")), "doc_y")
      .select(
        when(col("nx") <= col("ny"), col("doc_x")).otherwise(col("doc_y")).as("doc_sub"),
        when(col("nx") <= col("ny"), col("doc_y")).otherwise(col("doc_x")).as("doc_sup"),
        when(col("nx") <= col("ny"), col("nx")).otherwise(col("ny")).as("n_sub"),
        col("inter"))
      .where(col("n_sub") >= ContainMinShingles)
      .select(col("doc_sub"), col("doc_sup"), col("n_sub"), col("inter"),
        expr("CAST(inter * 1000 div n_sub AS BIGINT)").as("contain_pm"))
      .where(col("contain_pm") >= 900)
  }

  /** d21 — INCREMENTAL CONTAINMENT (the d12 pattern applied to d18's
    * measure): tonight's delta probed against the STANDING corpus's
    * df-capped inverted index for quote-inclusion — is this new doc
    * substantially contained in something we already have? — without
    * ever self-joining the standing corpus. The fixture plants
    * half-excerpts of standing docs into the delta (+1e6, %7==1
    * sources), the "new doc is a quote of an old one" case. The
    * denominator is the DELTA doc's full distinct-shingle count
    * while the numerator only counts hits against the CAPPED index,
    * so boilerplate-heavy docs under-score — deliberately
    * conservative (capped shingles carry no discrimination, d04's
    * rule; a doc made entirely of boilerplate should NOT read as
    * "contained in" any one standing doc).
    *
    * Scale shape: O(|delta shingles|) probe rows against the
    * standing index's hash distribution — the standing side is built
    * once nightly ([[shingleIndex]], shared with d04/d18) and at
    * 100 TB the delta probe touches index partitions, never
    * standing²; pair fan-out stays bounded by the df-cap.
    */
  val d21_incremental_containment: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val standing = d.where(col("doc_id") % 10 =!= 0)
    val delta = d.where(col("doc_id") % 10 === 0)
      .unionAll(standing.where(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          excerptHalf(col("text")).as("text")))
    val idx = shingleIndex(standing, DfCap)
    val dsh = delta
      .select(col("doc_id").as("delta_id"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("delta_id"), explode(col("hs")).as("s"))
    val nD = dsh.groupBy(col("delta_id")).agg(count(lit(1)).as("n_delta"))
    dsh.join(idx.select(col("doc_id").as("standing_id"), col("s")), "s")
      .groupBy(col("delta_id"), col("standing_id"))
      .agg(count(lit(1)).as("inter"))
      .join(nD, "delta_id")
      .where(col("n_delta") >= ContainMinShingles)
      .select(col("delta_id"), col("standing_id"), col("n_delta"), col("inter"),
        expr("CAST(inter * 1000 div n_delta AS BIGINT)").as("contain_pm"))
      .where(col("contain_pm") >= 900)
  }

  private def duckIncContainmentSql: String =
    s"""WITH standing AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                  UNION ALL
                  SELECT doc_id + 1000000,
                         array_to_string(string_split(text, ' ')[1:greatest(
                           (len(string_split(text, ' ')) + 1) // 2, 3)], ' ')
                  FROM standing WHERE doc_id % 7 = 1),
        ssh AS (SELECT doc_id, $duckShingleExpr AS shd FROM standing),
        shx AS (SELECT doc_id,
                       unnest(list_transform(shd, s -> ${Portable.duckHash60("s")})) AS s
                FROM ssh WHERE len(shd) > 0),
        idx AS (SELECT doc_id, s FROM (
                  SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM shx)
                WHERE df <= $DfCap),
        dsh0 AS (SELECT doc_id, $duckShingleExpr AS shd FROM delta),
        dsh AS (SELECT doc_id AS delta_id,
                       unnest(list_transform(shd, s -> ${Portable.duckHash60("s")})) AS s
                FROM dsh0 WHERE len(shd) > 0),
        nd AS (SELECT delta_id, COUNT(*) AS n_delta FROM dsh GROUP BY 1),
        i AS (SELECT d.delta_id, idx.doc_id AS standing_id, COUNT(*) AS inter
              FROM dsh d JOIN idx ON idx.s = d.s
              GROUP BY 1, 2)
        SELECT delta_id, standing_id, n_delta, inter,
               CAST(inter * 1000 // n_delta AS BIGINT) AS contain_pm
        FROM i JOIN nd USING (delta_id)
        WHERE n_delta >= $ContainMinShingles
          AND inter * 1000 // n_delta >= 900"""

  private def duckContainmentSql: String =
    s"""WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
                 array_to_string(string_split(text, ' ')[1:greatest(
                   (len(string_split(text, ' ')) + 1) // 2, 3)], ' ')
          FROM documents WHERE doc_id % 17 = 4),
        sh AS (SELECT doc_id, $duckShingleExpr AS shd FROM corpus),
        shn AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
        hsx AS (SELECT doc_id,
                       list_transform(shd, s -> ${Portable.duckHash60("s")}) AS hs
                FROM shn),
        ex0 AS (SELECT doc_id, unnest(hs) AS s FROM hsx),
        ex AS (SELECT doc_id, s FROM (
                 SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex0)
               WHERE df <= $DfCap),
        n AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
        i AS (SELECT a.doc_id AS doc_x, b.doc_id AS doc_y, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        d AS (SELECT CASE WHEN x.n <= y.n THEN doc_x ELSE doc_y END AS doc_sub,
                     CASE WHEN x.n <= y.n THEN doc_y ELSE doc_x END AS doc_sup,
                     CASE WHEN x.n <= y.n THEN x.n ELSE y.n END AS n_sub,
                     inter
              FROM i JOIN n x ON x.doc_id = doc_x JOIN n y ON y.doc_id = doc_y)
        SELECT doc_sub, doc_sup, n_sub, inter,
               CAST(inter * 1000 // n_sub AS BIGINT) AS contain_pm
        FROM d
        WHERE n_sub >= $ContainMinShingles AND inter * 1000 // n_sub >= 900"""

  // ------------------------------------------------------------------
  // d07 — near-dup clusters (connected components over the pair graph)
  // ------------------------------------------------------------------

  /** Label-propagation rounds for [[d07_dedup_clusters]]. After k
    * rounds every document carries the min doc id within graph
    * distance k, so k ≥ the component diameter yields exact connected
    * components; `DedupSpec` proves round k+1 changes nothing on the
    * fixture corpus. Both engines run EXACTLY this many rounds, so
    * oracle parity holds by construction whatever the diameter.
    * 8 → 10 with the r18 edge migration: the rot-block edge set is a
    * subset of the banded one (791–828‰ recall), so a component can
    * stay connected through a LONGER path — the fixture's measured
    * convergence moved from 8 to 10 changing rounds
    * (clusterLabelsFixpoint = 11 with its confirming round).
    */
  val ClusterIters = 10

  /** Near-dup CLUSTERS: the transitive closure of d03's pair relation
    * — pairs say "these two are dups", but a dedup pipeline keeps one
    * survivor per connected component (A~B, B~C must collapse to one
    * keeper even though A~C was never emitted). Components are
    * computed by iterative min-label propagation: every document
    * starts as its own label, and each round takes the min of its own
    * and its neighbors' labels — the standard big-data connected-
    * components loop (no driver-side graph, no recursion in state;
    * just K rounds of equi-join + min-aggregate, each a shuffle keyed
    * on the doc id). Emits (doc_id, cluster_id, is_keeper): keeper =
    * the component's min doc id.
    *
    * Scale shape: the edge list (d35's rotation-blocked candidate
    * join since r18 — see [[simhashEdges]] for the measured envelope,
    * both directions) is persisted once and re-read by every round; each
    * round shuffles |V|+|E| rows on the doc key with map-side partial
    * mins. K is a fixed constant — the production fixpoint loop with
    * its per-round convergence count EXISTS as
    * [[clusterLabelsFixpoint]], spec-proven to emit identical clusters;
    * the fixed-K form keeps the lazy `(spark, dir) => DataFrame`
    * contract and the differential oracle exact (the DuckDB twin
    * unrolls the same K rounds).
    */
  val d07_dedup_clusters: Q = (spark, dir) =>
    clusterLabels(spark, dir, ClusterIters)
      .select(col("doc_id"), col("lbl").as("cluster_id"),
        (col("doc_id") === col("lbl")).as("is_keeper"))

  /** [[d07_dedup_clusters]]'s label table after `iters` propagation
    * rounds — split out so `DedupSpec` can prove convergence (round
    * K+1 must change nothing).
    */
  private val edgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** THE shared symmetric near-dup edge artifact, materialized ONCE
    * per corpus dir to scratch parquet — the bpeIdx/indexPath
    * amortization applied to the dedup graph: the candidate join is
    * the dominant cost of every graph consumer (d07's closure, d14/
    * d30/d33x/d37's centralities, d22/d23/d31/d34's analytics), and
    * each round of each consumer re-reads the edges, so the artifact
    * pays for itself within one query. Parquet round-trips the id
    * pairs exactly; reading is value-identical to recomputing.
    *
    * KEYING (r18 migration): built from [[d35_simhash_rotblock]]'s
    * rotation-block candidate path, NOT d03's 8-bit banding. The r17
    * sf10 probe measured d03's banding as the family's scale ceiling —
    * random bucket collisions grow n²·6/2⁸ (≈3.5·10⁹ candidates at
    * 550k docs, spilling past the probe host's disk) — while the
    * rot-block geometry carries a 96× smaller constant (n²·16/2¹⁶)
    * with recall pigeonhole-GUARANTEED to hamming ≤ 2 and priced at
    * 791–828‰ of the exact pair set beyond ([[d36_rotblock_recall]],
    * the standing recall oracle; re-run it after any geometry change).
    * Every graph consumer therefore inherits the 100 TB-capable
    * candidate envelope; the exact-recall banded edge set survives as
    * [[bandEdges]] — the ≤sf1 oracle-anchor regime ([[d33]]'s).
    */
  private[graft] def simhashEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = edgeCache.computeIfAbsent(dir, _ => {
      val path = graft.Tables.scratchDir("graft_edges_")
      val prs = d35_simhash_rotblock(spark, dir).select(col("doc_a"), col("doc_b"))
      prs.unionAll(prs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .write.parquet(s"$path/edges")
      path
    })
    spark.read.parquet(s"$p/edges")
  }

  /** The EXACT-RECALL edge twin: d03's banded pairs, both directions,
    * written once per corpus dir (the [[simhashEdges]] amortization
    * with the pigeonhole-exact hamming ≤ 5 candidate path). This is
    * the ≤sf1 ORACLE-ANCHOR regime — the banding's n²·6/2⁸ collision
    * term makes it single-host-disk-dead at sf10 (measured, r17
    * probe), so nothing at-scale may depend on it: its only consumer
    * is [[d33_harmonic_centrality]], the exact-recall BFS anchor that
    * [[d33x_harmonic_rotblock]] and [[d37_harmonic_kmvball]] are
    * differentially positioned against.
    */
  private val bandEdgeCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def bandEdges(spark: SparkSession, dir: String): DataFrame = {
    val p = bandEdgeCache.computeIfAbsent(dir, _ => {
      val path = graft.Tables.scratchDir("graft_bandedges_")
      val prs = d03_simhash(spark, dir).select(col("doc_a"), col("doc_b"))
      prs.unionAll(prs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .write.parquet(s"$path/edges")
      path
    })
    spark.read.parquet(s"$p/edges")
  }

  private[graft] def clusterLabels(spark: SparkSession, dir: String,
                                   iters: Int): DataFrame =
    clusterLabelsFrom(spark, dir, simhashEdges(spark, dir), iters)

  private[graft] def clusterLabelsFrom(spark: SparkSession, dir: String,
                                       edges: DataFrame, iters: Int): DataFrame = {
    var lbl = nearDupCorpus(spark, dir)
      .select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to iters) {
      val nbrMin = edges
        .join(lbl.select(col("doc_id").as("nb"), col("lbl").as("nlbl")),
          col("doc_b") === col("nb"))
        .groupBy(col("doc_a")).agg(min(col("nlbl")).as("nlbl"))
      // each round consumes the previous one TWICE (join side + its
      // neighbor scan): without truncation the LOGICAL plan doubles
      // per round, and Catalyst's tree walks (canonicalization, rule
      // application) cost 2^K base-tree traversals even when execution
      // hits a cache. The lazy local checkpoint cuts the lineage to a
      // LogicalRDD per round — analysis stays linear in K, each round
      // computes once, execution stays deferred (the query contract).
      // On a cluster the equivalent fixpoint loop materializes each
      // round to a reliable store and unpersists its predecessor.
      lbl = lbl
        .join(nbrMin.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
    }
    lbl
  }

  /** d15 — FUZZY MATCH (bounded edit distance with prefix blocking):
    * the dedup family's fourth similarity axis — d02/d03/d04 see
    * token-set overlap, d05/d10 see embedding geometry, d13 sees
    * exact spans; edit distance catches the character-level mutation
    * class (OCR noise, typo farms, template fills) that token-set
    * measures dilute and exact hashing misses entirely. The corpus
    * plants one mid-text token substitution per 10th doc (the
    * nearDupCorpus convention at the character level), candidates
    * block on the 16-char text prefix — a blocking key chosen to
    * SURVIVE the mutation class it hunts (mid-text edits keep the
    * prefix; contrast d02, whose shingle bands survive head
    * truncation instead — the lesson that the block key must match
    * the threat model), and `levenshtein` (unit-cost edit distance,
    * identical definition in both engines) verifies each candidate
    * within the 96-char window.
    *
    * Scale shape: ONE equi-join on the block key — never all-pairs;
    * per-block fan-out is the square of the block size, so block
    * membership is CAPPED at [[FuzzyBlockCap]] exactly like d02's
    * df-cap bounds shingle buckets: an over-cap block (a boilerplate
    * prefix shared by thousands of docs — exactly the skew that would
    * square) is dropped whole, trading recall on that degenerate
    * prefix for a hard bound on fan-out. The cap rides the SAME blk
    * hash distribution the self-join needs (a count window, no extra
    * exchange), and `FuzzyDedupSpec` plants a skewed block to assert
    * the cap binds while the planted mutations' recall survives. The
    * quadratic-cost `levenshtein` runs only on post-block candidates
    * and only over the bounded window, never the full document.
    */
  private[graft] val FuzzyBlockCap = 64

  /** The blocking + bounded-verify core of d15 over any (doc_id, text)
    * corpus — factored so the spec can drive it with a planted skewed
    * block.
    */
  private[graft] def fuzzyPairs(corpus: DataFrame, cap: Int): DataFrame = {
    val blocked = corpus
      .select(col("doc_id"), substring(col("text"), 1, 16).as("blk"),
        substring(col("text"), 1, 96).as("head"))
      .withColumn("blk_n",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))))
      .where(col("blk_n") <= cap)
      .select(col("doc_id"), col("blk"), col("head"))
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.head"), col("b.head")).cast("long").as("edit_dist"))
      .where(col("edit_dist") <= 16)
  }

  val d15_fuzzy_match: Q = (spark, dir) => {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val arr = split(col("text"), " ")
    val fuzzed = concat(slice(arr, 1, 7), array(lit("zz")),
      slice(arr, lit(9), greatest(size(arr) - 8, lit(0))))
    val corpus = d.unionAll(
      d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(fuzzed, " ").as("text")))
    fuzzyPairs(corpus, FuzzyBlockCap)
  }

  private[graft] val RankIters = 5
  private[graft] val RankPico = 1000000000000L

  /** d14 — CENTRALITY-WEIGHTED CANONICAL PICK: PageRank over the
    * near-dup graph, then one representative per d07 cluster chosen
    * by rank (ties to the min doc id). d07's min-id keeper is
    * arbitrary; real dedup pipelines keep the best-connected version
    * of a duplicated document (the one most other near-copies
    * resemble — typically the canonical/original, not a truncated or
    * mutated copy). This adds the engine's iterative-graph-CENTRALITY
    * operator class beside d07's iterative closure: K fixed power-
    * iteration rounds with damping 85/100, every term EXACT integer
    * pico-unit arithmetic (teleport = (15·(10¹²÷N))÷100 by integer
    * division, each edge's contribution (85·r)÷(100·deg) divided
    * BEFORE the sum so partial aggregation is associative and the
    * oracle hashes bit-for-bit; mass conservation is deliberately
    * traded for engine-exactness — ordering, not probability, is the
    * product). Isolated documents keep teleport-only rank and remain
    * their own canonical.
    *
    * Scale shape: the persisted symmetric edge list is shared with
    * the cluster loop (ONE banded candidate join feeds both); each
    * rank round is one |E|-row shuffle keyed on the destination with
    * map-side partial sums, lineage cut per round (the d07 lesson);
    * the N-row and per-cluster argmax reductions are 1-row/|clusters|-
    * row broadcasts — no driver reads anywhere. The DuckDB twin
    * unrolls the same K rounds; its argmax is a structurally
    * different ROW_NUMBER so the differential checks semantics, not
    * plan.
    */
  val d14_canonical_rank: Q = (spark, dir) => {
    val edges = simhashEdges(spark, dir)
    val corpus = nearDupCorpus(spark, dir).select(col("doc_id"))
    val nrow = corpus.agg(count(lit(1)).as("n_docs"))
    val deg = edges.groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
    var rank = corpus.join(broadcast(nrow), lit(true), "left")
      .select(col("doc_id"),
        expr(s"$RankPico div n_docs").as("rank_pico"),
        expr(s"(15 * ($RankPico div n_docs)) div 100").as("tele"))
    for (_ <- 1 to RankIters) {
      val inflow = edges
        .join(rank.select(col("doc_id").as("src"), col("rank_pico").as("r")),
          col("doc_a") === col("src"))
        .join(deg, "doc_a")
        .groupBy(col("doc_b"))
        .agg(sum(expr("(85 * r) div (100 * deg)")).as("inflow"))
      rank = rank
        .join(inflow.withColumnRenamed("doc_b", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("tele") + coalesce(col("inflow"), lit(0L))).as("rank_pico"),
          col("tele"))
        .localCheckpoint(false)
    }
    val clusters = clusterLabelsFrom(spark, dir, edges, ClusterIters)
      .select(col("doc_id"), col("lbl").as("cluster_id"))
    val ranked = rank.select(col("doc_id"), col("rank_pico"))
      .join(clusters, "doc_id")
    val canon = ranked.groupBy(col("cluster_id"))
      .agg(max(struct(col("rank_pico"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("canonical_id"))
    ranked.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("rank_pico"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** Fixpoint variant of [[clusterLabels]] — the production driver
    * loop the fixed-K query's docstring describes: iterate propagation
    * rounds until a round changes NOTHING, observing convergence with
    * ONE count action per round (the action also materializes that
    * round's lazy local checkpoint, so nothing is computed twice).
    * Eager by construction (it must read the per-round change count on
    * the driver), so it lives BESIDE the lazy oracle-checked d07 query
    * rather than replacing it; `DedupSpec` proves both emit identical
    * clusters on the fixture corpus. Runs one confirming round past
    * the fixpoint (the count that returns 0), like any
    * change-detection loop. Returns (labels, roundsRun).
    *
    * Scale shape per round: identical to [[clusterLabels]] (equi-join
    * + min-agg on the doc key over the persisted edge list) plus the
    * O(|V|) change count — on a cluster the count is the cheap action
    * that gates the next round's job submission; labels for round r
    * land in executor-local checkpoint storage either way.
    */
  private[graft] def clusterLabelsFixpoint(spark: SparkSession, dir: String,
                                           maxIters: Int = 64): (DataFrame, Int) = {
    val edges = simhashEdges(spark, dir)
    var lbl = nearDupCorpus(spark, dir)
      .select(col("doc_id"), col("doc_id").as("lbl"))
      .localCheckpoint(false)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxIters) {
      val nbrMin = edges
        .join(lbl.select(col("doc_id").as("nb"), col("lbl").as("nlbl")),
          col("doc_b") === col("nb"))
        .groupBy(col("doc_a")).agg(min(col("nlbl")).as("nlbl"))
      val next = lbl
        .join(nbrMin.withColumnRenamed("doc_a", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
      changed = next.where(!(col("prev") <=> col("lbl"))).count()
      lbl = next.drop("prev")
      rounds += 1
    }
    (lbl, rounds)
  }

  /** d03's banded pair CTEs (cand → prs) — the exact-recall pair set,
    * kept for [[bandEdges]]' oracle twin (d33's anchor) and d36's
    * recall denominator. Assumes the `bands` CTE from
    * [[duckSimhashBandsSql]] is in scope.
    */
  private def duckBandPairCtes: String =
    s"""cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        prs AS (SELECT doc_a, doc_b FROM cand WHERE hamming <= $MaxHamming)"""

  /** The symmetric banded edge CTEs — the SQL twin of [[bandEdges]]
    * (the ≤sf1 exact-recall anchor regime, d33's oracle only).
    */
  private def duckBandEdgeCtes: String =
    s"""$duckBandPairCtes,
        edges AS MATERIALIZED (SELECT doc_a, doc_b FROM prs
                  UNION ALL SELECT doc_b, doc_a FROM prs)"""

  /** The symmetric simhash edge CTEs (rblocks → rcand → rprs → edges)
    * — the SQL twin of [[simhashEdges]] (rotation-block keyed since
    * r18), shared by every graph-consumer oracle. Assumes the `fp`
    * CTE from [[duckSimhashBandsSql]] is in scope.
    */
  private def duckEdgeCtes: String =
    s"""$duckRotCandSql,
        rprs AS (SELECT doc_a, doc_b FROM rcand WHERE hamming <= $MaxHamming),
        edges AS MATERIALIZED (SELECT doc_a, doc_b FROM rprs
                  UNION ALL SELECT doc_b, doc_a FROM rprs)"""

  /** The K unrolled min-label propagation rounds (l1..lK). Each round
    * references its predecessor TWICE (own label + neighbor scan), so
    * without `AS MATERIALIZED` DuckDB's default CTE inlining expands
    * the chain 2^K-fold — the SQL twin of the localCheckpoint
    * lineage-cut on the Spark side, for the same reason.
    */
  private def duckClusterRounds: String =
    (1 to ClusterIters).map { i =>
      s"""l$i AS MATERIALIZED (
            SELECT v.doc_id, LEAST(v.lbl, COALESCE(m.nlbl, v.lbl)) AS lbl
            FROM l${i - 1} v LEFT JOIN (
              SELECT e.doc_a AS doc_id, MIN(p.lbl) AS nlbl
              FROM edges e JOIN l${i - 1} p ON p.doc_id = e.doc_b
              GROUP BY e.doc_a) m USING (doc_id))"""
    }.mkString(",\n")

  private def duckClusterSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds
        SELECT doc_id, lbl AS cluster_id, doc_id = lbl AS is_keeper
        FROM l$ClusterIters"""

  /** Power-iteration rounds for [[d30_pagerank]] — fixed K, same
    * contract as [[ClusterIters]]: both engines run EXACTLY this many
    * rounds, so parity holds whatever the spectral gap.
    */
  val PrIters = 8

  /** d30 — PAGERANK CENTRALITY over the near-dup graph (fixed-point
    * integer power iteration): a structural canonical-selection
    * signal complementing d14 — d14 ranks within a cluster by local
    * quality, PageRank ranks by GRAPH position (a template hub that
    * near-matches fifty variants out-scores every leaf), which is the
    * standard centrality prior for picking the representative of a
    * dup neighborhood. Ranks live in integer MICRO-UNITS: every node
    * starts at 10⁶; each round r' = 0.15·10⁶ + 0.85·Σᵤ→ᵥ (rᵤ div
    * outdegᵤ), computed as `150000 + (850·Σ) div 1000` — pure BIGINT
    * arithmetic, so both engines truncate identically at every step
    * and the differential is hash-exact (the a13/t23 no-floats
    * discipline applied to an iterative algorithm; float PageRank
    * would drift per-engine in the last ulp each round). The
    * symmetric edge list has no dangling nodes by construction
    * (every endpoint appears as a source), so no dangling-mass term.
    *
    * Scale shape: the shared [[simhashEdges]] artifact (built once,
    * parquet) feeds each round's ONE equi-join shuffle on the source
    * key + ONE min-width agg shuffle on the destination — |V|+|E|
    * rows per round, map-side partial sums, K a fixed constant.
    * Lineage is cut per round ([[clusterLabelsFrom]]'s
    * localCheckpoint contract); the DuckDB twin unrolls the same K
    * rounds as MATERIALIZED CTEs for the same 2^K-inlining reason.
    */
  val d30_pagerank: Q = (spark, dir) => {
    val edges = simhashEdges(spark, dir)
    val deg = edges.groupBy(col("doc_a")).agg(count(lit(1)).as("outdeg"))
      .select(col("doc_a").as("doc_id"), col("outdeg"))
    var r = deg.select(col("doc_id"), lit(1000000L).as("r"))
    for (_ <- 1 to PrIters) {
      val inSum = edges
        .join(r.join(deg, Seq("doc_id"))
            .select(col("doc_id").as("src"), expr("r div outdeg").as("c")),
          col("doc_a") === col("src"))
        .groupBy(col("doc_b").as("doc_id")).agg(sum(col("c")).as("s"))
      r = deg.select(col("doc_id")).join(inSum, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("150000 + (850 * coalesce(s, 0)) div 1000").as("r"))
        .localCheckpoint(false)
    }
    r.select(col("doc_id"), col("r").as("rank_micro"))
  }

  private def duckPagerankRounds: String =
    (1 to PrIters).map { i =>
      s"""pr$i AS MATERIALIZED (
            SELECT d.doc_id,
                   150000 + (850 * COALESCE(m.s, 0)) // 1000 AS r
            FROM deg d LEFT JOIN (
              SELECT e.doc_b AS doc_id, SUM(p.r // g.outdeg) AS s
              FROM edges e
              JOIN pr${i - 1} p ON p.doc_id = e.doc_a
              JOIN deg g ON g.doc_id = e.doc_a
              GROUP BY 1) m USING (doc_id))"""
    }.mkString(",\n")

  private def duckPagerankSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        deg AS MATERIALIZED (
          SELECT doc_a AS doc_id, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        pr0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM deg),
        $duckPagerankRounds
        SELECT doc_id, CAST(r AS BIGINT) AS rank_micro FROM pr$PrIters"""

  /** d27 — CLUSTER-SIZE DISTRIBUTION: the dedup graph's shape in one
    * bounded relation — for each cluster SIZE s: how many d07
    * clusters have exactly s members, total docs they hold, the share
    * of the corpus in that size class (per-mille), and the running
    * docs-in-clusters-≥s share — the histogram that tells a curation
    * org whether dedup savings come from a long tail of pairs or a
    * few mega-clusters (which is also where d15's block cap and d04's
    * hot-bucket escape hatch start to matter). Singletons (size 1)
    * stay in the relation: their share is the corpus fraction dedup
    * cannot touch.
    *
    * Scale shape: d07's labels (shared edge artifact) → one
    * cluster_id rollup → one size rollup; the running share rides the
    * size-domain relation (bounded by the largest cluster, not the
    * corpus — the w-family bound, stated).
    */
  val d27_cluster_sizes: Q = (spark, dir) => {
    val sizes = d07_dedup_clusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("sz") * col("n_clusters"))
    val tot = sizes.agg(sum(col("n_docs")).as("n_total"))
    val w = Window.orderBy(col("sz").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    sizes.join(broadcast(tot), lit(true), "inner")
      .withColumn("docs_ge", sum(col("n_docs")).over(w))
      .select(col("sz"), col("n_clusters"), col("n_docs"),
        expr("n_docs * 1000 div n_total").as("share_pm"),
        expr("docs_ge * 1000 div n_total").as("ge_share_pm"))
  }

  /** d28 — DEDUP SAVINGS REPORT: the one-row answer to "what does
    * running dedup actually buy" — corpus bytes, bytes retained if
    * only each d07 cluster's keeper (min doc_id) survives, bytes
    * saved, and the savings in exact per-mille, plus the doc-count
    * view of the same cut. This is the headline number that justifies
    * the whole d-family's compute spend, priced in storage (and,
    * downstream, in training tokens not wasted on near-copies).
    *
    * Scale shape: d07's labels (shared edge artifact) joined to the
    * per-doc byte lengths ON doc_id (one key exchange), one 1-row
    * rollup. Nothing scales with corpus².
    */
  val d28_dedup_savings: Q = (spark, dir) => {
    val keepers = d07_dedup_clusters(spark, dir)
      .select(col("doc_id"), col("is_keeper"))
    documents(spark, dir)
      .select(col("doc_id"), octet_length(col("text")).cast("long").as("nb"))
      .join(keepers, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_keeper"), 1L).otherwise(0L)).as("n_keepers"),
        sum(col("nb")).as("total_bytes"),
        sum(when(col("is_keeper"), col("nb")).otherwise(0L))
          .as("keeper_bytes"))
      .select(col("n_docs"), col("n_keepers"), col("total_bytes"),
        col("keeper_bytes"),
        (col("total_bytes") - col("keeper_bytes")).as("saved_bytes"),
        expr("(total_bytes - keeper_bytes) * 1000 div total_bytes")
          .as("saved_pm"))
  }

  /** d29 — CLUSTER REPRESENTATIVE BY CONTENT, not by id: per ≥2-member
    * d07 cluster, the keeper a production pipeline actually wants —
    * the member with the MOST content (char length, tie → min id;
    * "keep the most complete copy" — the head-truncated planted
    * near-copies are exactly the rows this policy must NOT pick) —
    * beside the structural min-id keeper and a `policy_differs` flag,
    * so the report prices how often the cheap id rule keeps a worse
    * copy. Complements d27 (how big are clusters) and d28 (what does
    * dedup save) with WHICH copy survives.
    *
    * Scale shape: d07's labels (shared edge artifact) join the corpus
    * lengths on doc_id (one key exchange), then ONE cluster_id rollup
    * — the argmax rides `max(struct(len, -id))` with map-side
    * partials; nothing scales with cluster².
    */
  val d29_cluster_representative: Q = (spark, dir) => {
    val labels = clusterLabels(spark, dir, ClusterIters)
      .select(col("doc_id"), col("lbl").as("cluster_id"))
    nearDupCorpus(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("nch"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("minid_keeper"),
        max(struct(col("nch"), (-col("doc_id")).as("nid"))).as("m"))
      .where(col("n_members") >= 2)
      .select(col("cluster_id"), col("n_members"),
        (-col("m.nid")).as("keeper_id"), col("m.nch").as("keeper_chars"),
        col("minid_keeper"),
        ((-col("m.nid")) =!= col("minid_keeper")).as("policy_differs"))
  }

  private def duckClusterRepSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds,
        mem AS (SELECT l.doc_id, l.lbl, CAST(length(c.text) AS BIGINT) AS nch
                FROM l$ClusterIters l JOIN corpus c USING (doc_id)),
        rep AS (SELECT lbl, doc_id AS keeper_id, nch AS keeper_chars
                FROM mem
                QUALIFY row_number() OVER (PARTITION BY lbl
                          ORDER BY nch DESC, doc_id) = 1),
        agg AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS n_members,
                       MIN(doc_id) AS minid_keeper
                FROM mem GROUP BY lbl)
        SELECT a.lbl AS cluster_id, a.n_members, r.keeper_id,
               r.keeper_chars, a.minid_keeper,
               r.keeper_id <> a.minid_keeper AS policy_differs
        FROM agg a JOIN rep r USING (lbl)
        WHERE a.n_members >= 2"""

  private def duckDedupSavingsSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds,
        k AS (SELECT doc_id, doc_id = lbl AS is_keeper FROM l$ClusterIters),
        b AS (SELECT d.doc_id, octet_length(encode(d.text)) AS nb,
                     k.is_keeper
              FROM documents d JOIN k USING (doc_id))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_keepers,
               CAST(SUM(nb) AS BIGINT) AS total_bytes,
               CAST(SUM(CASE WHEN is_keeper THEN nb ELSE 0 END) AS BIGINT)
                 AS keeper_bytes,
               CAST(SUM(nb) - SUM(CASE WHEN is_keeper THEN nb ELSE 0 END)
                    AS BIGINT) AS saved_bytes,
               CAST((SUM(nb) - SUM(CASE WHEN is_keeper THEN nb ELSE 0 END))
                    * 1000 // SUM(nb) AS BIGINT) AS saved_pm
        FROM b"""

  private def duckClusterSizesSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds,
        cs AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz
               FROM l$ClusterIters GROUP BY 1),
        sz AS (SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters,
                      sz * CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM cs GROUP BY 1),
        t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM sz),
        r AS (SELECT sz.*, CAST(SUM(n_docs) OVER (ORDER BY sz DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS docs_ge
              FROM sz)
        SELECT sz, n_clusters, n_docs,
               n_docs * 1000 // n_total AS share_pm,
               docs_ge * 1000 // n_total AS ge_share_pm
        FROM r, t"""

  /** d19 — LEAKAGE-FREE SPLIT ASSIGNMENT: train/val/test decided by
    * hashing the near-dup CLUSTER id, never the document id — the
    * split operator that makes d16's eval-leakage report come back
    * clean by construction. Splitting on doc_id (t15's per-doc
    * sampling rule) puts a document and its near-copy on opposite
    * sides of the train/eval fence with probability 2·p·(1−p) — the
    * classic benchmark-inflation bug; hashing the d07 cluster label
    * moves the decision to the equivalence class, so every DETECTED
    * near-dup travels with its cluster wherever it lands (the spec
    * locks split-is-a-function-of-cluster and exhibits a detected
    * pair the doc-hash rule would straddle; recall of detection
    * itself is d03's banding contract). 80/10/10 via one portable
    * hash-mod on the label.
    *
    * Scale shape: d07's label propagation (shared `simhashEdges`
    * artifact) + one row-local hash — the split adds NOTHING to the
    * clustering's cost, and the assignment is reproducible from the
    * label alone (no global shuffle, no sampling state).
    */
  val d19_cluster_split: Q = (spark, dir) => {
    val b = pmod(Portable.hash60(
      concat(lit("split:"), col("cluster_id").cast("string"))), lit(100L))
    d07_dedup_clusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"))
  }

  private def duckClusterSplitSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds,
        cl AS (SELECT doc_id, lbl AS cluster_id FROM l$ClusterIters),
        h AS (SELECT doc_id, cluster_id,
                ${Portable.duckHash60("concat('split:', CAST(cluster_id AS VARCHAR))")} % 100 AS b
              FROM cl)
        SELECT doc_id, cluster_id,
               CASE WHEN b < 80 THEN 'train'
                    WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM h"""

  /** d14's twin: the same K exact-integer power-iteration rounds, the
    * same K label rounds, but a ROW_NUMBER argmax — structurally
    * different from the Spark side's struct-max so the differential
    * checks the semantics.
    */
  private def duckCanonicalRankSql: String = {
    val rrounds = (1 to RankIters).map { i =>
      s"""r$i AS MATERIALIZED (
            SELECT v.doc_id, v.tele + COALESCE(m.inflow, 0) AS rank_pico, v.tele
            FROM r${i - 1} v LEFT JOIN (
              SELECT e.doc_b AS doc_id,
                     CAST(SUM((85 * p.rank_pico) // (100 * d.deg)) AS BIGINT) AS inflow
              FROM edges e JOIN r${i - 1} p ON p.doc_id = e.doc_a
                   JOIN deg d ON d.doc_a = e.doc_a
              GROUP BY e.doc_b) m USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        nrow AS (SELECT COUNT(*) AS n_docs FROM corpus),
        deg AS MATERIALIZED (SELECT doc_a, COUNT(*) AS deg FROM edges GROUP BY doc_a),
        r0 AS (SELECT doc_id,
                      $RankPico // n_docs AS rank_pico,
                      (15 * ($RankPico // n_docs)) // 100 AS tele
               FROM corpus, nrow),
        $rrounds,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds,
        rk AS (SELECT r.doc_id, r.rank_pico, l.lbl AS cluster_id
               FROM r$RankIters r JOIN l$ClusterIters l USING (doc_id)),
        canon AS (SELECT cluster_id, doc_id AS canonical_id FROM (
                    SELECT cluster_id, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY cluster_id
                             ORDER BY rank_pico DESC, doc_id ASC) AS rn
                    FROM rk) WHERE rn = 1)
        SELECT rk.doc_id, rk.cluster_id, rk.rank_pico,
               rk.doc_id = c.canonical_id AS is_canonical
        FROM rk JOIN canon c USING (cluster_id)"""
  }

  // ------------------------------------------------------------------
  // d08 — benchmark decontamination
  // ------------------------------------------------------------------

  /** Shared rare shingles flagging a (train, eval) pair as
    * contamination; 5 co-occurring low-df 3-grams ≈ a 7+-token verbatim
    * overlap — the n-gram-collision rule decontamination pipelines use.
    */
  private[graft] val MinContamHits = 5

  /** Eval-set twin of [[nearDupCorpus]]: every 50th document,
    * head-truncated — a benchmark whose items leaked into the training
    * corpus (the situation decontamination exists to catch).
    */
  private[graft] def evalSet(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        dropHead5(col("text")).as("text"))

  private[graft] val duckEvalCorpus =
    """ev AS (
         SELECT doc_id + 2000000 AS doc_id,
                array_to_string(string_split(text, ' ')[6:], ' ') AS text
         FROM documents WHERE doc_id % 50 = 0
       )"""

  /** d08 — TRAIN-vs-EVAL decontamination by rare-n-gram collision: the
    * training corpus (all documents) is flagged wherever it shares ≥
    * [[MinContamHits]] distinct low-df 3-gram shingles with a single
    * eval item ([[evalSet]] — planted leaked benchmark items). Emits
    * one row per contaminated train doc: how many eval items hit it
    * and the largest single-item overlap — the report a curation
    * pipeline acts on (drop or audit). The df-cap is computed over the
    * COMBINED shingle universe, so boilerplate n-grams that appear
    * everywhere (in either set) carry no contamination signal — the
    * same rationale as d04's cap.
    *
    * Scale shape (mirrors d04, the proven one): both sides explode to
    * HASHED shingles; ONE shuffle on the shingle key serves the
    * df-count window, the cap filter, and the train×eval equi-join
    * (co-partitioned via the persisted index — plan shape asserted for
    * d04, same construction here). Join fan-out per shingle is capped
    * at dfCap²; the eval side is the small one (benchmarks are KBs,
    * corpora are TBs), so at production scale the eval index also
    * qualifies for a broadcast — Catalyst/AQE picks that when sizes
    * warrant; nothing in the plan prevents it. No cross product
    * anywhere.
    */
  val d08_decontam: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val tr = documents(spark, dir).select(col("doc_id"), col("text"), lit("t").as("role"))
    val ev = evalSet(spark, dir).select(col("doc_id"), col("text"), lit("e").as("role"))
    val sh = tr.unionAll(ev)
      .select(col("doc_id"), col("role"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("doc_id"), col("role"), explode(col("hs")).as("s"))
    val kept = sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .where(col("df") <= DfCap)
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = kept.where(col("role") === "t").alias("a")
      .join(kept.where(col("role") === "e").alias("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("eval_id"))
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") >= MinContamHits)
    pairs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("inter")).as("max_overlap"))
  }

  /** d16 — EVAL-LEAKAGE REPORT: d08's contamination relation rolled up
    * per EVAL item instead of per train doc — the leaderboard-
    * integrity view (which benchmark items are compromised, how
    * broadly, and by whom): hit count, worst overlap, and the
    * deterministic worst offender (max_by under (inter, −doc_id) —
    * highest overlap, ties to the smallest id, the d14 argmax
    * convention). The two rollups are the two consumers real
    * pipelines run off ONE pair relation: d08 gates the training
    * side, this audits the eval side.
    *
    * Scale shape: identical to d08 up to the final |pairs|-row rollup
    * (shared df-capped shingle exchange + candidate equi-join); at
    * 100 TB the eval side stays broadcast-bounded.
    */
  val d16_eval_leakage: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val tr = documents(spark, dir).select(col("doc_id"), col("text"), lit("t").as("role"))
    val ev = evalSet(spark, dir).select(col("doc_id"), col("text"), lit("e").as("role"))
    val sh = tr.unionAll(ev)
      .select(col("doc_id"), col("role"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("doc_id"), col("role"), explode(col("hs")).as("s"))
    val kept = sh
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("s"))))
      .where(col("df") <= DfCap)
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = kept.where(col("role") === "t").alias("a")
      .join(kept.where(col("role") === "e").alias("b"), col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("doc_id"), col("b.doc_id").as("eval_id"))
      .agg(count(lit(1)).as("inter"))
      .where(col("inter") >= MinContamHits)
    pairs.groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_train_hits"),
        max(col("inter")).as("max_overlap"),
        // composite order packed into one long (inter ≤ 1e4 shingles,
        // ids < 3e6): highest overlap wins, ties to the smallest id —
        // the same scalar key on both engines
        max_by(col("doc_id"),
          col("inter") * 100000000L - col("doc_id")).as("worst_doc_id"))
  }

  /** The d08 contamination-pair CTE chain ending in
    * `prs`(doc_id, eval_id, inter) — shared by the d08 and d16 oracle
    * tails.
    */
  private def duckContamPairCtes: String =
    s"""$duckEvalCorpus,
        corpus AS (
          SELECT doc_id, text, 't' AS role FROM documents
          UNION ALL SELECT doc_id, text, 'e' AS role FROM ev),
        $duckShingles,
        shr AS (SELECT c.doc_id, c.role, sh.shd
                FROM sh JOIN corpus c USING (doc_id) WHERE len(shd) > 0),
        ex0 AS (SELECT doc_id, role,
                       unnest(list_transform(shd, s -> ${Portable.duckHash60("s")})) AS s
                FROM shr),
        ex AS (SELECT doc_id, role, s FROM (
                 SELECT doc_id, role, s, COUNT(*) OVER (PARTITION BY s) AS df
                 FROM ex0)
               WHERE df <= $DfCap),
        prs AS (SELECT a.doc_id AS doc_id, b.doc_id AS eval_id, COUNT(*) AS inter
                FROM ex a JOIN ex b ON a.s = b.s
                WHERE a.role = 't' AND b.role = 'e'
                GROUP BY 1, 2 HAVING COUNT(*) >= $MinContamHits)"""

  private def duckDecontamSql: String =
    s"""WITH $duckContamPairCtes
        SELECT doc_id, COUNT(*) AS n_eval_hits, MAX(inter) AS max_overlap
        FROM prs GROUP BY doc_id"""

  private def duckEvalLeakageSql: String =
    s"""WITH $duckContamPairCtes
        SELECT eval_id, COUNT(*) AS n_train_hits,
               CAST(MAX(inter) AS BIGINT) AS max_overlap,
               CAST(arg_max(doc_id, inter * 100000000 - doc_id) AS BIGINT)
                 AS worst_doc_id
        FROM prs GROUP BY eval_id"""

  // ------------------------------------------------------------------
  // d09 — LSH banding parameter sweep
  // ------------------------------------------------------------------

  /** The (bands, rows) configurations [[d09_lsh_tuning]] sweeps — every
    * factorization of the [[NumHashes]]-long signature, from the
    * strictest single band of 12 (candidate iff ALL minima agree) to 12
    * bands of 1 (candidate iff ANY minimum agrees). Per the LSH s-curve
    * `P(cand | J) = 1 − (1 − J^rows)^bands`, recall rises and precision
    * falls monotonically along this list.
    */
  private[graft] val LshSweep: Seq[(Int, Int)] =
    Seq((1, 12), (2, 6), (3, 4), (4, 3), (6, 2), (12, 1))

  /** d09 — LSH PARAMETER SWEEP: measure every [[LshSweep]] banding of
    * the 12-way MinHash signature against the exact ground truth, in
    * one query. Ground truth = d04's df-capped exact-Jaccard pairs
    * (J ≥ 0.5) — the exactness anchor the banded configs approximate.
    * Emits one row per config: candidate-pair count, true positives,
    * the truth size, precision and recall — the table an engineer reads
    * to pick the banding before a 100 TB dedup run (d02's fixed 4×3 is
    * one row of it).
    *
    * Scale shape: ONE hashed-shingle pass (persisted, shared by the
    * signature build and the ground-truth index); all configs' band
    * rows are generated by a single explode (Σ bands = 28 rows/doc) and
    * joined in ONE equi-join on (cfg, band, bkey) — the sweep costs one
    * candidate join, not |configs| of them. The truth side is d04's
    * proven one-exchange shape; per-config rollups are map-side-partial
    * counts. The b12r1 endpoint has the d02 skew caveat (single-hash
    * buckets are the most collision-prone); the df-capped truth join
    * bounds the exact side regardless.
    */
  val d09_lsh_tuning: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val W = org.apache.spark.sql.expressions.Window
    val hs = nearDupCorpus(spark, dir)
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val seedsCsv = Portable.xorSeeds.take(NumHashes).mkString(",")
    val mh = hs.select(col("doc_id"),
      call_function("minhash_mins", col("hs"), lit(seedsCsv)).as("mh"))
    val bandStructs = LshSweep.flatMap { case (nb, nr) =>
      (0 until nb).map { b =>
        struct(
          lit(s"b${nb}r$nr").as("cfg"), lit(nb).as("n_bands"), lit(nr).as("n_rows"),
          lit(b).as("band"),
          concat_ws("_", (1 to nr).map(r => element_at(col("mh"), nr * b + r)): _*).as("bkey"))
      }
    }
    val bands = mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.cfg").as("cfg"), col("bb.n_bands").as("n_bands"),
        col("bb.n_rows").as("n_rows"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    val cand = bands.alias("a").join(bands.alias("b"),
        col("a.cfg") === col("b.cfg") && col("a.band") === col("b.band") &&
          col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cfg").as("cfg"), col("a.n_bands").as("n_bands"),
        col("a.n_rows").as("n_rows"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    // ground truth: d04's plan over the SAME hashed-shingle relation
    val ex = hs.select(col("doc_id"), explode(col("hs")).as("s"))
    val kept = ex
      .withColumn("df", count(lit(1)).over(W.partitionBy(col("s"))))
      .where(col("df") <= DfCap)
      .drop("df")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = kept.alias("a")
      .join(kept.alias("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .where((col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double")) >= 0.5)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))

    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    val per = cand.join(truth, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("cfg"), col("n_bands"), col("n_rows"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_tp"))
    // every swept config emits a row even with ZERO candidate pairs
    // (the rollup groups over cand, so an empty config would otherwise
    // vanish from the table instead of reporting n_cand=0 — the
    // round-7 advisor item); the config list is a literal relation.
    import spark.implicits._
    val cfgs = LshSweep
      .map { case (b, r) => (s"b${b}r$r", b, r) }
      .toDF("cfg", "n_bands", "n_rows")
    cfgs.join(per, Seq("cfg", "n_bands", "n_rows"), "left")
      .join(broadcast(nTrue), lit(true), "inner")
      .select(col("cfg"), col("n_bands"), col("n_rows"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_tp"), lit(0L)).as("n_tp"),
        col("n_true"),
        when(coalesce(col("n_cand"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(col("n_tp").cast("double") / col("n_cand").cast("double")).as("prec"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(col("n_tp").cast("double") / col("n_true").cast("double")).as("recall"))
  }

  private def duckLshSweepSql: String = {
    val mhs = (0 until NumHashes).map(i =>
      s"list_min(list_transform(hs, h -> ${Portable.duckXorMix(i, "h")}))").mkString("[", ", ", "]")
    val bandSelects = LshSweep.flatMap { case (nb, nr) =>
      (0 until nb).map { b =>
        val key = (1 to nr).map(r => s"mhs[${nr * b + r}]").mkString("concat_ws('_', ", ", ", ")")
        s"SELECT doc_id, 'b${nb}r$nr' AS cfg, $nb AS n_bands, $nr AS n_rows, $b AS band, $key AS bkey FROM mh"
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH $duckNearCorpus, $duckShingles,
        shn AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
        hsx AS (SELECT doc_id,
                       list_transform(shd, s -> ${Portable.duckHash60("s")}) AS hs
                FROM shn),
        mh AS (SELECT doc_id, $mhs AS mhs FROM hsx),
        bands AS ($bandSelects),
        cand AS (
          SELECT DISTINCT a.cfg, a.n_bands, a.n_rows,
                 a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.cfg = b.cfg AND a.band = b.band AND a.bkey = b.bkey
               AND a.doc_id < b.doc_id),
        ex0 AS (SELECT doc_id, unnest(hs) AS s FROM hsx),
        ex AS (SELECT doc_id, s FROM (
                 SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM ex0)
               WHERE df <= $DfCap),
        n AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
        i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        truth AS (SELECT doc_a, doc_b
                  FROM i JOIN n x ON x.doc_id = doc_a JOIN n y ON y.doc_id = doc_b
                  WHERE CAST(inter AS DOUBLE) / CAST(x.n + y.n - inter AS DOUBLE) >= 0.5),
        nt AS (SELECT COUNT(*) AS n_true FROM truth),
        per AS (SELECT c.cfg, c.n_bands, c.n_rows, COUNT(*) AS n_cand,
                       CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tp
                FROM cand c LEFT JOIN truth t
                  ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
                GROUP BY 1, 2, 3),
        cfgs AS (SELECT * FROM (VALUES ${LshSweep.map { case (b, r) =>
      s"('b${b}r$r', $b, $r)" }.mkString(", ")}) t(cfg, n_bands, n_rows))
        SELECT c.cfg, c.n_bands, c.n_rows,
               CAST(COALESCE(per.n_cand, 0) AS BIGINT) AS n_cand,
               CAST(COALESCE(per.n_tp, 0) AS BIGINT) AS n_tp,
               CAST(nt.n_true AS BIGINT) AS n_true,
               CASE WHEN COALESCE(per.n_cand, 0) = 0 THEN NULL
                    ELSE CAST(per.n_tp AS DOUBLE) / CAST(per.n_cand AS DOUBLE) END AS prec,
               CASE WHEN nt.n_true = 0 THEN NULL
                    ELSE CAST(COALESCE(per.n_tp, 0) AS DOUBLE)
                         / CAST(nt.n_true AS DOUBLE) END AS recall
        FROM cfgs c LEFT JOIN per
          ON per.cfg = c.cfg AND per.n_bands = c.n_bands AND per.n_rows = c.n_rows,
        nt"""
  }

  /** d12 — INCREMENTAL NEAR-DUP: the d11 nightly at the NEAR-dup
    * tier — flag delta documents that are near-copies of STANDING
    * corpus documents, probing the standing LSH index with the delta
    * only. Candidate generation joins the delta's band keys against
    * the standing side's (never delta×delta, never all-pairs), so the
    * incremental run is O(|delta|·bands) probe rows against the
    * prebuilt index — the production shape where the standing
    * signatures are a materialized artifact and tonight's crawl is
    * the only new work. Same [[PickedBanding]] config, same
    * codegen'd shingle→hash→minhash pipeline, same exact-Jaccard
    * ≥ 0.5 verification as d02 (false candidates die at the verify;
    * misses are the banding's measured recall trade, tuned by the
    * d09→pickBanding loop). Planted near-copies of standing docs
    * (head-truncation, J ≈ 0.9 — the [[nearDupCorpus]] recipe)
    * guarantee the differential check exercises real hits.
    */
  val d12_incremental_neardup: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val standing = d.where(col("doc_id") % 10 =!= 0)
    val delta = d.where(col("doc_id") % 10 === 0)
      .unionAll(standing.where(col("doc_id") % 9 === 2)
        .select((col("doc_id") + 3000000L).as("doc_id"), dropHead5(col("text")).as("text")))
    def prep(df: DataFrame) = df
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hsS = prep(standing)
    val hsD = prep(delta)
    val cand = pickedBandRows(hsD, "doc_id", Nil).alias("a")
      .join(pickedBandRows(hsS, "doc_id", Nil).alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("delta_id"), col("b.doc_id").as("standing_id"))
      .distinct()
    val x = hsD.select(col("doc_id").as("delta_id"), col("hs").as("sha"))
    val y = hsS.select(col("doc_id").as("standing_id"), col("hs").as("shb"))
    cand.join(x, "delta_id").join(y, "standing_id")
      .select(col("delta_id"), col("standing_id"),
        (size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= 0.5)
  }

  /** d11 — INCREMENTAL DEDUP: deduplicate an arriving DELTA batch
    * against the STANDING corpus — the production nightly (a new
    * crawl lands; only rows never seen before may enter). Two
    * planted overlap classes exercise both drop paths
    * deterministically on both engines: copies of standing-corpus
    * docs (must fall to the anti-join) and within-delta copies (must
    * collapse to the min-id keeper, d01's rule).
    *
    * Scale shape: ONE shuffle on the content hash — the anti-join
    * and the keeper aggregation share the hash distribution, so
    * Catalyst reuses the exchange; the standing side ships only its
    * distinct-hash projection, never its payloads. At 100 TB the
    * j13 composition applies verbatim: broadcast the standing set's
    * Bloom summary to pre-prune the delta before the exact
    * anti-join shuffles (false positives re-verified by the
    * anti-join itself).
    */
  val d11_incremental_dedup: Q = (spark, dir) => {
    val docs = documents(spark, dir).select(col("doc_id"), col("text"))
    keepersOf(incrementalDeltaOf(docs), docs.where(col("doc_id") % 10 =!= 0))
  }

  /** d11's delta over any (doc_id, text) relation: every 10th doc,
    * replanted copies of every 40th, and re-uploads of standing docs
    * with id ≡ 1 (mod 7) — st37 builds it from its document stream.
    */
  private[graft] def incrementalDeltaOf(docs: DataFrame): DataFrame = {
    val delta0 = docs.where(col("doc_id") % 10 === 0)
    val replant = delta0.where(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val stale = docs.where(col("doc_id") % 10 =!= 0).where(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    delta0.unionAll(replant).unionAll(stale)
  }

  /** d11's admission rule: delta docs whose content the standing
    * corpus lacks, one min-id keeper per content hash — st37 upserts
    * it from its delta stream.
    */
  private[graft] def keepersOf(delta: DataFrame, existing: DataFrame): DataFrame = {
    val eh = existing.select(md5(col("text")).as("content_hash")).distinct()
    delta
      .withColumn("content_hash", md5(col("text")))
      .join(eh, Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  /** Passage width (whitespace tokens per non-overlapping chunk) for
    * [[d13_passage_dedup]]. 5 tokens removes ~10 % of the synthetic
    * corpus's chunks — a realistic boilerplate rate.
    */
  private[graft] val PassageW = 5

  /** d13 — PASSAGE-LEVEL EXACT-SUBSTRING DEDUP (the C4 line-dedup /
    * Lee-et-al. duplicated-span pass, at chunk granularity): segment
    * every document into consecutive [[PassageW]]-token passages,
    * drop each passage whose exact content appears in ≥ 2 DISTINCT
    * documents corpus-wide (boilerplate: headers, license blocks,
    * navigation — content shared across pages), and reassemble the
    * surviving text in order. Complements the d01-d04 document-level
    * family: those drop whole near-copies; this removes repeated
    * SPANS from documents that are otherwise unique.
    *
    * Scale shape: the corpus-wide frequency count is keyed by the
    * passage's 60-bit [[Portable.hash60]] — ids, never text, ride the
    * wide exchange — with map-side partial counts; the verdict joins
    * back on the same key (exchange reuse), and the rebuild is ONE
    * doc-keyed aggregation whose order is restored by sorting the
    * collected (chunk_id, chunk) structs — no window, no driver.
    * A doc losing every passage still emits its row (n_kept = 0,
    * empty text): the rollup groups ALL chunks, not survivors.
    */
  val d13_passage_dedup: Q = (spark, dir) =>
    passageDedup(documents(spark, dir))

  /** One row per [[PassageW]]-token passage instance of each doc, with
    * its 60-bit content key — the shared front half of d13 and the
    * ingest scrub (st42).
    */
  private[graft] def passageChunks(docs: DataFrame): DataFrame = {
    val nCh = ceil(size(col("toks")) / lit(PassageW.toDouble)).cast("int")
    docs
      .select(col("doc_id"), TextAnalysis.lmToks.as("toks"))
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), nCh - 1),
        i => concat_ws(" ", slice(col("toks"), i * PassageW + 1, lit(PassageW))))))
      .toDF("doc_id", "chunk_id", "chunk")
      .withColumn("ck", Portable.hash60(col("chunk")))
  }

  /** The distinct 60-bit keys of passages appearing in ≥ 2 docs —
    * "tonight's boilerplate list", the decision artifact the ingest
    * scrub (st42) enforces.
    */
  private[graft] def boilerplateKeys(docs: DataFrame): DataFrame =
    passageChunks(docs)
      .groupBy(col("ck")).agg(countDistinct(col("doc_id")).as("dfreq"))
      .where(col("dfreq") >= 2).select(col("ck"))

  /** The d13 pipeline over any (doc_id, text) relation — factored so
    * the spec can drive it with a controlled fixture.
    */
  private[graft] def passageDedup(docs: DataFrame): DataFrame = {
    val ch = passageChunks(docs)
    val dfreq = ch.groupBy(col("ck"))
      .agg(countDistinct(col("doc_id")).as("dfreq"))
    ch.join(dfreq, Seq("ck"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dfreq") < 2, 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("dfreq") < 2,
            struct(col("chunk_id"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"))
  }

  private[graft] def duckPassageDedupSql: String =
    s"""WITH tk AS (SELECT doc_id,
                           list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
                    FROM documents),
        pcid AS (SELECT doc_id, toks,
                        unnest(range(0, CAST(ceil(len(toks) / $PassageW.0) AS BIGINT))) AS chunk_id
                 FROM tk),
        pch AS (SELECT doc_id, chunk_id,
                       array_to_string(list_slice(toks, chunk_id * $PassageW + 1,
                                                  chunk_id * $PassageW + $PassageW), ' ') AS chunk
                FROM pcid),
        pck AS (SELECT doc_id, chunk_id, chunk, ${Portable.duckHash60("chunk")} AS ck FROM pch),
        pdf AS (SELECT ck, COUNT(DISTINCT doc_id) AS dfreq FROM pck GROUP BY 1)
        SELECT pck.doc_id, COUNT(*) AS n_chunks,
               CAST(SUM(CASE WHEN pdf.dfreq < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(string_agg(CASE WHEN pdf.dfreq < 2 THEN pck.chunk END, ' '
                                   ORDER BY pck.chunk_id), '') AS clean_text
        FROM pck JOIN pdf USING (ck)
        GROUP BY 1"""

  // ------------------------------------------------------------------
  // d22/d23 — graph analytics over the dedup graph (round 11). The
  // shared simhashEdges artifact already feeds components (d07),
  // centrality (d14) and splits (d19); triangles and communities
  // complete the graph family a curation pipeline reads to judge
  // cluster QUALITY: a high-clustering cluster is a true template
  // family, a chain-shaped one is transitive-closure drift.
  // ------------------------------------------------------------------

  /** d22 — triangle count + local clustering coefficient, via the
    * DEGREE-ORDERED ORIENTATION: each undirected edge is kept only
    * from its (deg, id)-smaller endpoint, so every triangle is
    * enumerated exactly once and — the scale guarantee — every
    * oriented out-degree is O(√|E|) regardless of skew (a celebrity
    * node's million edges all point INTO it; the wedge join fans out
    * from the low-degree side). Three equi-joins on node keys, no
    * all-pairs anywhere: wedges (oriented ⋈ oriented on the middle
    * node) closed against the oriented edge list. The coefficient is
    * integer per-mille over the true symmetric degree. Nodes of
    * degree < 2 are excluded (coefficient undefined).
    */
  val d22_triangle_count: Q = (spark, dir) => {
    val edges = simhashEdges(spark, dir)
    val deg = edges.groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("doc_a").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
    val o = withDeg
      .where(col("da") < col("db") ||
        (col("da") === col("db") && col("doc_a") < col("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val e1 = o.select(col("src").as("u"), col("dst").as("v"))
    val e2 = o.select(col("src").as("v"), col("dst").as("w"))
    val e3 = o.select(col("src").as("u"), col("dst").as("w"))
    val tri = e1.join(e2, Seq("v")).join(e3, Seq("u", "w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("doc_a").as("doc_id"), col("deg"))
      .where(col("deg") >= 2)
      .join(perNode, Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("clustering_pm",
        expr("(2 * n_tri * 1000) div (deg * (deg - 1))"))
  }

  private val LpaIters = 2

  /** d23 — FREQUENCY label propagation communities (2 synchronous
    * rounds WITH LABEL RETENTION): unlike d07's min-label closure
    * (which converges to connected components), each node adopts the
    * MOST COMMON label among its neighbors AND ITSELF — (count desc,
    * label asc) argmax, fully deterministic. The self-vote is load-
    * bearing, not a tweak: synchronous LPA without it OSCILLATES on
    * any near-bipartite component (a planted dup PAIR swaps labels
    * every round and lands back on singletons after even K — the
    * classic 2-cycle), while retention makes pairs converge in one
    * round and still lets a component that is two dense blobs joined
    * by one spurious banding edge split on the majority vote. Per
    * round: one (node, label) count shuffle + one argmax collapsed
    * map-side via max(struct) — |V|+|E| rows per round, K fixed,
    * lineage cut per round exactly like d07 (the localCheckpoint
    * discipline). Isolated nodes keep their own label through the
    * self-vote.
    */
  val d23_lpa_communities: Q = (spark, dir) => {
    val edges = simhashEdges(spark, dir)
    var lbl = nearDupCorpus(spark, dir)
      .select(col("doc_id"), col("doc_id").as("lbl"))
    for (_ <- 1 to LpaIters) {
      val contrib = edges
        .join(lbl.select(col("doc_id").as("nb"), col("lbl").as("nlbl")),
          col("doc_b") === col("nb"))
        .select(col("doc_a"), col("nlbl"))
        .unionAll(lbl.select(col("doc_id").as("doc_a"), col("lbl").as("nlbl")))
      val top = contrib
        .groupBy(col("doc_a"), col("nlbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_a"))
        .agg(max(struct(col("c"), (-col("nlbl")).as("neg"))).as("m"))
        .select(col("doc_a").as("doc_id"), (-col("m.neg")).as("nlbl"))
      lbl = lbl
        .join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("nlbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    lbl.select(col("doc_id"), col("lbl").as("community"))
      .withColumn("community_size",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("community"))))
  }

  /** d31 — K-CORE DECOMPOSITION (k=2, bounded peel) over the simhash
    * dup graph: iteratively remove nodes with fewer than k neighbors
    * still in the set; survivors form the 2-core — the cyclically
    * connected heart of each dup cluster (pendant chains and isolated
    * pairs peel away). The curation use: a 2-core member is
    * REDUNDANTLY duplicated (≥2 independent near-dup witnesses), the
    * strongest drop signal; pendant nodes have only one witness and
    * deserve a second look before dropping.
    *
    * Both engines run the SAME fixed peel depth ([[KcoreRounds]]
    * rounds, each one degree-count over edges restricted to the
    * current set), so the differential is exact whether or not the
    * peel has converged; the docstring bound is the d07/d23
    * discipline — at 100 TB the loop runs to convergence with each
    * round materialized and its predecessor unpersisted, and
    * localCheckpoint cuts the per-round lineage here for the same
    * 2^K-analysis reason as [[clusterLabelsFrom]].
    *
    * Scale shape: each round is one equi-join pair + one groupBy on
    * doc_a — edges stay put (partitioned by doc_a), only the
    * shrinking membership relation reshuffles. No all-pairs anywhere.
    */
  val d31_kcore: Q = (spark, dir) => {
    val edges = simhashEdges(spark, dir)
    var keep = edges.select(col("doc_a").as("doc_id")).distinct()
    for (_ <- 1 to KcoreRounds) {
      keep = edges
        .join(keep.select(col("doc_id").as("ka")), col("doc_a") === col("ka"))
        .join(keep.select(col("doc_id").as("kb")), col("doc_b") === col("kb"))
        .groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= KcoreK)
        .select(col("doc_a").as("doc_id"))
        .localCheckpoint(false)
    }
    edges
      .join(keep.select(col("doc_id").as("ka")), col("doc_a") === col("ka"))
      .join(keep.select(col("doc_id").as("kb")), col("doc_b") === col("kb"))
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("core_deg"))
      .select(col("doc_a").as("doc_id"), col("core_deg"))
  }

  private val KcoreK = 2
  private val KcoreRounds = 6

  /** d32 — MINHASH ERROR AUDIT: for every LSH candidate pair, the
    * signature-agreement ESTIMATE of Jaccard (matching xor-mixed
    * minima / [[NumHashes]] — the classic unbiased estimator the
    * banding scheme is built on) side by side with the EXACT
    * hashed-shingle Jaccard, both as floored per-milles, plus the
    * signed error. d09 prices the banding's candidate-generation
    * recall; THIS prices the estimator itself — the "measure, don't
    * guess" audit that says how far a 12-hash signature is from truth
    * before anyone raises NumHashes. All-integer outputs (matches and
    * intersection counts per-milled by integer division) — nothing to
    * diverge cross-engine.
    *
    * Scale shape: d02's exact shapes re-used — banded equi-join for
    * candidates, signature join is NumHashes-long arrays, exact verify
    * over hashed shingle sets; the audit adds one zip_with fold per
    * pair. Never all-pairs.
    */
  val d32_minhash_error: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val hs = nearDupCorpus(spark, dir)
      .select(col("doc_id"), shingleHashes(col("text")).as("hs"))
      .where(size(col("hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seedsCsv = Portable.xorSeeds.take(NumHashes).mkString(",")
    val mh = hs.select(col("doc_id"),
      call_function("minhash_mins", col("hs"), lit(seedsCsv)).as("mh"))
    val bands = pickedBandRows(hs, "doc_id", Nil)
    val cand = bands.alias("a").join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSig = cand
      .join(mh.select(col("doc_id").as("doc_a"), col("mh").as("mha")), Seq("doc_a"))
      .join(mh.select(col("doc_id").as("doc_b"), col("mh").as("mhb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        aggregate(zip_with(col("mha"), col("mhb"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
          lit(0L), (acc, v) => acc + v).as("n_match"))
    withSig
      .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("sha")), Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("shb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
        size(array_union(col("sha"), col("shb"))).cast("long").as("uni"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        expr(s"n_match * 1000 div $NumHashes").as("est_pm"),
        expr("inter * 1000 div uni").as("exact_pm"),
        expr(s"n_match * 1000 div $NumHashes - inter * 1000 div uni")
          .as("err_pm"))
  }

  /** d33 — HARMONIC CENTRALITY (bounded radius) over the simhash dup
    * graph: Σ 1/dist to every node within [[HcRounds]] hops — the
    * distance-based centrality that complements degree (d22), label
    * communities (d23), PageRank (d30) and the k-core (d31): a node
    * bridging two dup clusters scores high here while its degree and
    * core number stay low, which is exactly the "template document
    * stitching families together" signal a curation pass wants.
    * Computed as BFS layers over per-node NEIGHBORHOOD ARRAYS: layer
    * k is a per-node sorted-set column, expanded by ONE equi-join
    * (each edge (v,u) fetches u's layer-(k−1) array) and one
    * node-keyed `flatten(collect_list)` + `array_distinct` +
    * `array_except`(all earlier layers ∪ {v}); each layer contributes
    * `1000 div dist` milli-units per member (integer — the sum is
    * exact, no float harmonics). Both engines run the SAME fixed
    * radius; the oracle unrolls the layers as MATERIALIZED CTEs of
    * PAIR rows with NOT-EXISTS de-duplication — a structurally
    * different formulation, so the differential checks the layered
    * semantics, not the plan.
    *
    * Scale shape — why arrays and not pair rows: the r13 pair-level
    * BFS materialized each layer as (src, dst) ROWS and re-deduped
    * with `distinct` + anti-join; at sf0.1 the round-3 expansion alone
    * was 9.4 M distinct pairs from ~116 M pre-distinct join outputs
    * (measured: 13.9 s expand + 13.5 s anti-join, 21.6 s total). Here
    * the same information moves as compact long-arrays keyed by node:
    * per round the shuffle is |E| rows carrying the neighbor arrays
    * (Σ deg(u)·|layer_{k−1}(u)| longs — the information-theoretic
    * minimum for the expansion) and dedup is a per-group in-memory
    * `array_distinct`, not a cluster-wide pair exchange. Measured
    * 7.8 s cold / ~3 s warm at sf0.1 — 3-6× under the pair shape —
    * and the per-group arrays stay bounded at any corpus size because
    * dup components are band-capped (never corpus-wide), which also
    * bounds executor memory per task. Layers localCheckpoint lazily
    * ONCE each (consumed by the next round's expansion, its except
    * list, and the final rollup — the clusterLabelsFrom lineage
    * reason).
    *
    * REGIME (r18 positioning): this is the ≤sf1 EXACT-RECALL ANCHOR —
    * it rides [[bandEdges]] (d03's pigeonhole-exact banding), whose
    * candidate join is measured disk-dead at sf10 (n²·6/2⁸), AND the
    * exact BFS itself spills ~100 GiB-class at sf10. It exists so
    * [[d33x_harmonic_rotblock]] (same BFS, shared rot-block edges)
    * and [[d37_harmonic_kmvball]] (the at-scale sketched form) have
    * a fully-exact differential anchor; at 100 TB run d37.
    */
  val d33_harmonic_centrality: Q = (spark, dir) =>
    harmonicFrom(bandEdges(spark, dir))

  /** d33x — d33's layered harmonic centrality over the SHARED
    * rotation-blocked edge artifact ([[simhashEdges]], d35's keying
    * since r18) instead of the exact-recall banded anchor: the
    * sf10-capable exact-BFS form. The r17 probe could not run d33 at
    * sf10 — its edge artifact (d03's 8-bit-band candidate join)
    * spilled past the host's disk, the measured form of the n²·6/2^8
    * latent term — while this twin's candidate volume is 96× smaller
    * by geometry (d35's envelope) with the BFS itself unchanged.
    * Exact oracle: the same unrolled-layer SQL over the rotation-
    * blocked edge CTEs; on any corpus where d35's recall is total the
    * two relations are identical, and where it is not, the
    * differential still proves the layered semantics over exactly the
    * edges d35 admits. SCALE CEILING (measured, r17): exact BFS ships
    * Σ deg(u)·|layer(u)| member-longs per round — linear but
    * ~100 GiB-class transient spill at sf10 on one host — so this is
    * the ≤sf1 oracle twin; [[d37_harmonic_kmvball]] (|E|·k per round)
    * is the at-scale centrality.
    */
  val d33x_harmonic_rotblock: Q = (spark, dir) =>
    harmonicFrom(simhashEdges(spark, dir))

  /** KMV sketch width for [[d37_harmonic_kmvball]]. */
  private[graft] val HbK = 32

  /** d37 — SKETCHED HARMONIC CENTRALITY (the HyperBall recursion with
    * KMV sketches): the operator that still RUNS where d33/d33x's
    * exact BFS is disk-bound. The r17 sf10 probe measured the exact
    * form's cost precisely: its per-round expansion ships
    * Σ deg(u)·|layer(u)| longs — linear in data but ~11.6 GiB of
    * transient spill at sf1 (measured), i.e. ~100 GiB-class at sf10,
    * past this host's disk. This twin replaces per-node MEMBER ARRAYS
    * with k-minimum-value sketches of the r-hop ball: per round every
    * edge carries at most [[HbK]] longs (fewer while a ball's sketch
    * is still below k), so round volume is bounded by |E|·k —
    * independent of component size, the Boldi–Vigna HyperBall shape
    * with a07's proven-oracled KMV estimator instead of HLL. The
    * merge is associative-exact (k smallest of a union of k-smallest
    * sets = k smallest of the union), so the iterated sketch EQUALS
    * the sketch of the exact ball — which is why a cross-engine
    * differential exists at all: the DuckDB oracle computes exact
    * balls from the unrolled layer CTEs, takes the same k minima and
    * the same a07 estimator arithmetic, and must match to the bit.
    * Counts below k are exact up to 60-bit hash collisions (two ball
    * members colliding would undercount by one — negligible at these
    * cardinalities, and identical in both engines so the differential
    * holds regardless); above k the estimator's error is the
    * standard KMV ±1/√(k−2) ≈ 18% per ball — the documented trade
    * for a 100 TB-capable volume envelope (d36's pricing discipline
    * applied to centrality).
    */
  val d37_harmonic_kmvball: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val edges = simhashEdges(spark, dir)
    val nodes = edges.select(col("doc_a").as("v")).distinct()
    val h = graft.functions.Portable.hash60(
      concat(lit("hb:"), col("v").cast("string")))
    var sk = nodes.select(col("v"), array(h).as("sk")).localCheckpoint(false)
    var rounds = List.empty[(Int, DataFrame)]
    for (r <- 1 to HcRounds) {
      val contrib = edges.select(col("doc_a").as("v"), col("doc_b").as("u"))
        .join(sk.select(col("v").as("u"), col("sk")), Seq("u"))
        .select(col("v"), col("sk"))
        .unionAll(sk)
      sk = contrib.groupBy(col("v"))
        // r19 (guide §2.3): the KMV merge (k smallest of the distinct
        // union = slice(array_sort(array_distinct(flatten(
        // collect_list(sk)))), 1, k), value-identical) now runs INSIDE
        // the aggregate, so every map-side partial buffer is capped at
        // HbK longs BEFORE the exchange — the |E|·k → per-partition
        // |V|·k collapse the HyperBall shape promises; the builtin
        // spelling concatenated all deg(v)+1 sketches across the wire
        // and sliced only reduce-side.
        .agg(call_function("union_distinct", col("sk"), lit(HbK)).as("sk"))
        .localCheckpoint(false)
      rounds = rounds :+ ((r, sk))
    }
    val ests = rounds.map { case (r, df) =>
      df.select(col("v"), lit(r.toLong).as("dist"),
        when(size(col("sk")) < HbK, size(col("sk")).cast("long"))
          .otherwise(floor(lit((HbK - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            element_at(col("sk"), HbK).cast("double")).cast("long")).as("est"))
    }.reduce(_.unionAll(_))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("v")).orderBy(col("dist"))
    ests
      .withColumn("prev", lag(col("est"), 1, 1L).over(w))
      .withColumn("cnt", greatest(col("est") - col("prev"), lit(0L)))
      .groupBy(col("v").as("doc_id"))
      .agg(sum(col("cnt")).as("n_reach_est"),
        sum(expr("cnt * (1000 div dist)")).as("harmonic_milli_est"))
  }

  private def harmonicFrom(edges: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.register(edges.sparkSession)
    val adj = edges.groupBy(col("doc_a").as("v"))
      .agg(collect_set(col("doc_b")).as("nk"))
      .localCheckpoint(false)
    // (dist, per-node layer arrays); seen = dist-<k nodes incl. self
    var layers = List((1, adj))
    var cur = adj
    var seen = adj.select(col("v"),
      array_union(col("nk"), array(col("v"))).as("seen"))
    for (r <- 2 to HcRounds) {
      val nxt = expandLayer(edges, cur)
        .join(seen, Seq("v"))
        .select(col("v"), array_except(col("raw"), col("seen")).as("nk"))
        .localCheckpoint(false)
      layers = layers :+ ((r, nxt))
      seen = seen.join(nxt, Seq("v"), "left")
        .select(col("v"), array_union(col("seen"),
          coalesce(col("nk"), array().cast("array<bigint>"))).as("seen"))
      cur = nxt
    }
    layers.map { case (d, df) =>
      df.select(col("v"), lit(d.toLong).as("dist"),
        size(col("nk")).cast("long").as("cnt"))
    }.reduce(_.unionAll(_))
      .groupBy(col("v").as("doc_id"))
      .agg(sum(col("cnt")).as("n_reach"),
        sum(expr("cnt * (1000 div dist)")).as("harmonic_milli"))
  }

  private val HcRounds = 3

  /** One BFS expansion: every edge (v,u) fetches u's layer-(k−1) array
    * `unk`, merged per v into the distinct union `raw`. r19 (guide
    * §2.3): the merge is [[graft.functions.UnionDistinct]], which
    * dedups MAP-SIDE where `array_distinct(flatten(collect_list(...)))`
    * shipped every neighbor's full layer array to the reducer and
    * deduped only there — within a dup cluster the neighborhoods
    * overlap heavily, so the partial combine collapses most of the
    * Σ deg(u)·|layer(u)| exchange volume (the family's measured
    * write-bound term; thread dumps put shuffle `write0` first among
    * executor frames). Measured per warm pass at sf0.1: d33's JVM
    * write volume 1664 MB → 423 MB, d33x 1153 MB → 319 MB, GC time
    * ~2× lower (SF01_SWEEP_r19.log O5). Result arrays are ascending
    * (deterministic under any merge order) instead of
    * first-occurrence — invisible downstream: every consumer is
    * array_except/array_union membership or size().
    */
  private def expandLayer(edges: DataFrame, cur: DataFrame): DataFrame =
    edges.select(col("doc_a").as("v"), col("doc_b").as("u"))
      .join(cur.select(col("v").as("u"), col("nk").as("unk")), Seq("u"))
      .groupBy(col("v"))
      .agg(call_function("union_distinct", col("unk"), lit(0)).as("raw"))

  /** The round-2 expansion WITHOUT the localCheckpoint truncation —
    * a measurement hook for `graft.PlanDump` ONLY (not a registered
    * query): the registered d33/d33x plans hide every BFS round behind
    * a `LogicalRDD` leaf (the lazy local checkpoint that keeps Catalyst
    * analysis linear in rounds), so the union_distinct adoption is
    * invisible in their dumps; this exposes one round's physical plan
    * for the committed before/after evidence (plans/r19).
    */
  private[graft] def harmonicExpansionPlan(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    val edges = bandEdges(spark, dir)
    expandLayer(edges,
      edges.groupBy(col("doc_a").as("v")).agg(collect_set(col("doc_b")).as("nk")))
  }

  /** d34 — CONNECTED COMPONENTS BY ALTERNATING STARS: the
    * two-operation large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014)
    * over the same dup graph d07 labels by min-label propagation —
    * a STRUCTURALLY different algorithm converging to the same
    * component-min labels, which is exactly what makes it worth
    * carrying: propagation needs O(diameter) rounds (a chain of
    * near-dups propagates one hop per round), the star alternation
    * contracts path lengths multiplicatively and converges in
    * O(log n) rounds on any topology — the difference between 6 and
    * 60 shuffles on a pathological chain at 100 TB. Each round is
    * two pure equi-shuffle steps on node ids: LARGE-STAR links every
    * strictly-greater neighbor of u to m = min(N(u) ∪ {u});
    * SMALL-STAR (on the canonical hi>lo pair form) links each
    * smaller-neighbor and u itself to the group min. Both are
    * min-aggregate + join — map-side partial mins, no windows, no
    * driver data reads (the convergence probe is a 1-row count +
    * anti-join emptiness check, the clusterLabelsFixpoint
    * discipline). At the fixed point the edge set IS the star forest
    * (v → component min), so labels read off directly; corpus rows
    * never touched by an edge keep their own id (singletons).
    *
    * Oracle: d07's K-round unrolled propagation — spec-proven
    * converged (`DedupSpec` round-K+1 invariance), so the two
    * algorithms must agree exactly; the differential therefore
    * proves the star algebra against an independent formulation.
    *
    * The registered form runs a FIXED [[StarRounds]] alternations —
    * the d07 lazy-contract convention: the production driver loop
    * with its per-round convergence probe exists as
    * [[starComponentsFixpoint]], spec-proven to emit identical
    * labels and to converge strictly inside the fixed budget
    * (measured: 4 changing rounds at every shipped SF — the O(log n)
    * bound in practice).
    */
  val d34_star_components: Q = (spark, dir) => {
    var e = starEdges(spark, dir)
    for (_ <- 1 to StarRounds) e = starRound(e)
    starLabels(spark, dir, e)
  }

  /** The canonical (hi > lo) initial edge set of the star alternation. */
  private def starEdges(spark: SparkSession, dir: String): DataFrame =
    simhashEdges(spark, dir)
      .where(col("doc_a") > col("doc_b"))
      .select(col("doc_a").as("hi"), col("doc_b").as("lo"))
      .distinct()
      .localCheckpoint(false)

  /** One large-star + small-star alternation over canonical pairs —
    * lazily checkpointed (each round's result feeds three consumers:
    * the next round's two star steps and, on the last round, the
    * label readoff; the clusterLabelsFrom lineage reason).
    */
  private def starRound(e: DataFrame): DataFrame = {
    val nbr = e.select(col("hi").as("u"), col("lo").as("v"))
      .unionAll(e.select(col("lo").as("u"), col("hi").as("v")))
    val mTab = nbr.groupBy(col("u")).agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    val ls = nbr.join(mTab, Seq("u"))
      .where(col("v") > col("u"))
      .select(col("v").as("hi"), col("m").as("lo"))
      .distinct()
    val sm = ls.groupBy(col("hi")).agg(min(col("lo")).as("m"))
    ls.join(sm, Seq("hi"))
      .select(col("lo").as("h2"), col("m").as("l2"))
      .where(col("h2") =!= col("l2"))
      .unionAll(sm.select(col("hi").as("h2"), col("m").as("l2")))
      .distinct()
      .select(col("h2").as("hi"), col("l2").as("lo"))
      .localCheckpoint(false)
  }

  /** Label readoff from a (fixed-point) star forest: every node
    * points at its component min; untouched corpus rows are their own
    * singleton component.
    */
  private def starLabels(spark: SparkSession, dir: String,
                         e: DataFrame): DataFrame =
    nearDupCorpus(spark, dir).select(col("doc_id"))
      .join(e.groupBy(col("hi")).agg(min(col("lo")).as("lbl")),
        col("doc_id") === col("hi"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id"))
          .as("is_keeper"))

  /** [[d34_star_components]]'s production driver loop: alternate
    * until the edge set is a fixed point (count + anti-join emptiness
    * — 1-row decision reads, the clusterLabelsFixpoint discipline),
    * returning the labels and the round count. Spec-proven to match
    * the fixed-round registered form and to converge inside its
    * budget.
    */
  private[graft] def starComponentsFixpoint(spark: SparkSession, dir: String,
      maxIters: Int = 32): (DataFrame, Int) = {
    var e = starEdges(spark, dir)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      it += 1
      val ss = starRound(e)
      converged = ss.count() == e.count() &&
        ss.join(e, Seq("hi", "lo"), "left_anti").head(1).isEmpty
      e = ss
    }
    (starLabels(spark, dir, e), it)
  }

  /** Fixed alternation budget for the registered [[d34_star_components]]
    * — the measured convergence (4 changing rounds + 1 confirming at
    * sf0.001/0.01/0.1) plus one round of headroom; the spec pins
    * `starComponentsFixpoint`'s round count ≤ this.
    */
  private[graft] val StarRounds = 6

  /** d33's oracle: the BFS layers unrolled (frontier-only expansion,
    * NOT-EXISTS against earlier layers) over the BANDED exact-recall
    * edge CTEs — the anchor regime. */
  private def duckHarmonicSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckBandEdgeCtes,
        $duckHarmonicBody"""

  /** d33x's oracle: the identical unrolled layers over the shared
    * rotation-blocked edge CTEs (same `edges` name, d35's geometry).
    */
  private def duckHarmonicRotSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        $duckHarmonicBody"""

  /** d37's oracle: exact balls from the unrolled layer CTEs over the
    * rotation-blocked edges, the same k minima (KMV merge is
    * associative-exact, so the Spark side's iterated sketch equals
    * the sketch of the exact ball), and a07's estimator arithmetic.
    */
  private def duckKmvBallSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        $duckLayerCtes,
        allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
                 UNION ALL SELECT * FROM p3),
        nodes AS (SELECT DISTINCT doc_a AS v FROM edges),
        rr AS (SELECT unnest([1, 2, 3]) AS dist),
        mem AS (
          SELECT rr.dist, n.v AS src, n.v AS m FROM rr, nodes n
          UNION
          SELECT rr.dist, a.src, a.dst AS m FROM rr JOIN allp a
            ON a.dist <= rr.dist),
        hm AS (SELECT DISTINCT dist, src,
                      ${graft.functions.Portable.duckHash60(
                        "concat('hb:', CAST(m AS VARCHAR))")} AS h
               FROM mem),
        sk AS (SELECT dist, src, CAST(COUNT(*) AS BIGINT) AS n,
                      (list_sort(list(h)))[$HbK] AS hk
               FROM hm GROUP BY 1, 2),
        est AS (SELECT dist, src,
                       CASE WHEN n < $HbK THEN n
                            ELSE CAST(FLOOR(${HbK - 1}.0 * 1152921504606846976.0
                                            / CAST(hk AS DOUBLE)) AS BIGINT)
                       END AS est
                FROM sk),
        lay AS (SELECT src, dist, est,
                       COALESCE(LAG(est) OVER (PARTITION BY src ORDER BY dist),
                                1) AS prev
                FROM est)
        SELECT src AS doc_id,
               CAST(SUM(GREATEST(est - prev, 0)) AS BIGINT) AS n_reach_est,
               CAST(SUM(GREATEST(est - prev, 0) * (1000 // dist)) AS BIGINT)
                 AS harmonic_milli_est
        FROM lay GROUP BY 1"""

  private def duckHarmonicBody: String =
    s"""$duckLayerCtes,
        allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
                 UNION ALL SELECT * FROM p3)
        SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_reach,
               CAST(SUM(1000 // dist) AS BIGINT) AS harmonic_milli
        FROM allp GROUP BY 1"""

  /** The unrolled shortest-path layer CTEs p1..p3 over an `edges`
    * CTE — shared by d33/d33x's rollup and d37's exact-ball oracle.
    */
  private def duckLayerCtes: String =
    s"""p1 AS MATERIALIZED (
          SELECT doc_a AS src, doc_b AS dst, 1 AS dist FROM edges),
        x2 AS (SELECT DISTINCT p1.src, e.doc_b AS dst
               FROM p1 JOIN edges e ON e.doc_a = p1.dst
               WHERE e.doc_b <> p1.src),
        p2 AS MATERIALIZED (
          SELECT src, dst, 2 AS dist FROM x2
          WHERE NOT EXISTS (SELECT 1 FROM p1
                            WHERE p1.src = x2.src AND p1.dst = x2.dst)),
        x3 AS (SELECT DISTINCT p2.src, e.doc_b AS dst
               FROM p2 JOIN edges e ON e.doc_a = p2.dst
               WHERE e.doc_b <> p2.src),
        p3 AS MATERIALIZED (
          SELECT src, dst, 3 AS dist FROM x3
          WHERE NOT EXISTS (SELECT 1 FROM p1
                            WHERE p1.src = x3.src AND p1.dst = x3.dst)
            AND NOT EXISTS (SELECT 1 FROM p2
                            WHERE p2.src = x3.src AND p2.dst = x3.dst))"""

  /** d32's oracle: the d02 chain with the signature-agreement fold and
    * the exact verify carried to the same integer per-milles. */
  private def duckMinhashErrorSql: String = {
    val (nBands, nRows) = PickedBanding
    val mhs = (0 until NumHashes).map(i =>
      s"list_min(list_transform(hs, h -> ${Portable.duckXorMix(i, "h")}))").mkString("[", ", ", "]")
    val bandKeys = (0 until nBands).map(b =>
      (1 to nRows).map(r => s"mhs[${nRows * b + r}]")
        .mkString("concat_ws('_', ", ", ", ")"))
    s"""WITH $duckNearCorpus, $duckShingles,
        shn AS (SELECT doc_id, shd FROM sh WHERE len(shd) > 0),
        hsx AS (SELECT doc_id,
                       list_transform(shd, s -> ${Portable.duckHash60("s")}) AS hs
                FROM shn),
        mh AS MATERIALIZED (SELECT doc_id, $mhs AS mhs FROM hsx),
        bands AS (
          SELECT doc_id, t.band,
                 CASE ${bandKeys.zipWithIndex.map { case (k, b) => s"WHEN t.band = $b THEN $k" }.mkString(" ")} END AS bkey
          FROM mh, (SELECT unnest([${(0 until nBands).mkString(",")}]) AS band) t),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               CAST(len(list_filter(range(1, ${NumHashes + 1}),
                    i -> xa.mhs[i] = yb.mhs[i])) AS BIGINT) AS n_match,
               CAST(len(list_filter(range(1, ${NumHashes + 1}),
                    i -> xa.mhs[i] = yb.mhs[i])) * 1000 // $NumHashes
                    AS BIGINT) AS est_pm,
               CAST(len(list_intersect(x.hs, y.hs)) * 1000
                    // len(list_distinct(list_concat(x.hs, y.hs)))
                    AS BIGINT) AS exact_pm,
               CAST(len(list_filter(range(1, ${NumHashes + 1}),
                    i -> xa.mhs[i] = yb.mhs[i])) * 1000 // $NumHashes
                  - len(list_intersect(x.hs, y.hs)) * 1000
                    // len(list_distinct(list_concat(x.hs, y.hs)))
                    AS BIGINT) AS err_pm
        FROM cand JOIN hsx x ON x.doc_id = doc_a
                  JOIN hsx y ON y.doc_id = doc_b
                  JOIN mh xa ON xa.doc_id = doc_a
                  JOIN mh yb ON yb.doc_id = doc_b"""
  }

  /** d31's oracle: the same [[KcoreRounds]] peel rounds unrolled as
    * chained MATERIALIZED CTEs (each round reads its predecessor twice
    * — endpoint membership — so inlining would expand 2^K-fold, the
    * duckClusterRounds reason). */
  private def duckKcoreSql: String = {
    val rounds = (1 to KcoreRounds).map { i =>
      s"""s$i AS MATERIALIZED (
            SELECT e.doc_a AS doc_id FROM edges e
            JOIN s${i - 1} a ON a.doc_id = e.doc_a
            JOIN s${i - 1} b ON b.doc_id = e.doc_b
            GROUP BY 1 HAVING COUNT(*) >= $KcoreK)"""
    }.mkString(",\n")
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        s0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id FROM edges),
        $rounds
        SELECT e.doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
        FROM edges e
        JOIN s$KcoreRounds a ON a.doc_id = e.doc_a
        JOIN s$KcoreRounds b ON b.doc_id = e.doc_b
        GROUP BY 1"""
  }

  /** d22's oracle: same orientation, same three equi-joins, the
    * per-node rollup via UNION ALL + GROUP BY. */
  private def duckTriangleSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        deg AS MATERIALIZED (SELECT doc_a, COUNT(*) AS deg
                             FROM edges GROUP BY doc_a),
        o AS MATERIALIZED (
          SELECT e.doc_a AS src, e.doc_b AS dst
          FROM edges e JOIN deg da ON da.doc_a = e.doc_a
                       JOIN deg db ON db.doc_a = e.doc_b
          WHERE da.deg < db.deg
             OR (da.deg = db.deg AND e.doc_a < e.doc_b)),
        wdg AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS ww
                FROM o e1 JOIN o e2 ON e2.src = e1.dst),
        tri AS (SELECT u, v, ww FROM wdg
                JOIN o e3 ON e3.src = wdg.u AND e3.dst = wdg.ww),
        pern AS (SELECT doc_id, COUNT(*) AS n_tri FROM (
                   SELECT u AS doc_id FROM tri
                   UNION ALL SELECT v FROM tri
                   UNION ALL SELECT ww FROM tri)
                 GROUP BY 1)
        SELECT d.doc_a AS doc_id, d.deg,
               CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
               CAST((2 * COALESCE(p.n_tri, 0) * 1000)
                    // (d.deg * (d.deg - 1)) AS BIGINT) AS clustering_pm
        FROM deg d LEFT JOIN pern p ON p.doc_id = d.doc_a
        WHERE d.deg >= 2"""

  /** d23's oracle: the K frequency rounds unrolled, argmax via
    * row_number (structurally different from the Spark struct-max). */
  private def duckLpaSql: String = {
    val rounds = (1 to LpaIters).map { i =>
      s"""f$i AS MATERIALIZED (
            SELECT v.doc_id, COALESCE(m.nlbl, v.lbl) AS lbl
            FROM f${i - 1} v LEFT JOIN (
              SELECT doc_a AS doc_id, nlbl FROM (
                SELECT doc_a, nlbl,
                       row_number() OVER (PARTITION BY doc_a
                         ORDER BY COUNT(*) DESC, nlbl) AS rn
                FROM (
                  SELECT e.doc_a, p.lbl AS nlbl
                  FROM edges e JOIN f${i - 1} p ON p.doc_id = e.doc_b
                  UNION ALL
                  SELECT doc_id AS doc_a, lbl AS nlbl FROM f${i - 1})
                GROUP BY doc_a, nlbl)
              WHERE rn = 1) m USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        f0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $rounds
        SELECT doc_id, lbl AS community,
               CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT)
                 AS community_size
        FROM f$LpaIters"""
  }

  /** d24 — PARTITION AGREEMENT AUDIT (components × communities): the
    * cluster-quality verdict the curation pipeline actually consumes,
    * joined for free off two standing label tables — d07's
    * min-label connected components (the TRANSITIVE-closure view:
    * "every doc reachable through near-dup edges") against d23's
    * frequency-LPA communities (the DENSITY view: "docs that vote
    * together"). Per component: doc count, how many communities it
    * SPLITS into (a split = a chain component whose ends don't
    * actually resemble each other — the transitive-closure
    * over-merge LPA catches), how many of those communities are
    * MERGED across other components (the dual: LPA density bridging
    * what closure separated — possible because simhash band recall
    * is probabilistic), the dominant community and its exact
    * per-mille purity. The keep-one-per-cluster policy (d06) is
    * safe where purity_pm = 1000 and suspect where splits pile up —
    * this relation IS that dashboard.
    *
    * Scale shape: both label tables are (V)-row relations (their
    * own cost is d07/d23's, shared via the `simhashEdges` artifact
    * and each one doc_id-keyed exchange); the audit adds one
    * (cluster, community) rollup, one |communities|-row span count,
    * and a broadcast-sized join back — nothing scales with E. The
    * DuckDB twin unrolls BOTH fixpoints in one WITH (structurally
    * different argmax via row_number), so the differential checks
    * both label tables AND the audit arithmetic in one hash.
    */
  val d24_partition_agreement: Q = (spark, dir) => {
    val comp = clusterLabels(spark, dir, ClusterIters)
      .select(col("doc_id"), col("lbl").as("cluster_id"))
    val comm = d23_lpa_communities(spark, dir)
      .select(col("doc_id"), col("community"))
    val pc = comp.join(comm, Seq("doc_id"))
      .groupBy(col("cluster_id"), col("community"))
      .agg(count(lit(1)).as("n"))
    val span = pc.groupBy(col("community"))
      .agg(count_distinct(col("cluster_id")).as("comm_span"))
    pc.join(broadcast(span), Seq("community"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_comms"),
        sum(when(col("comm_span") > 1, 1L).otherwise(0L)).as("n_merged_comms"),
        max(struct(col("n"), (-col("community")).as("neg"))).as("m"))
      .select(col("cluster_id"), col("n_docs"), col("n_comms"),
        col("n_merged_comms"),
        (-col("m.neg")).as("top_comm"), col("m.n").as("top_n"),
        expr("(m.n * 1000) div n_docs").as("purity_pm"))
      .withColumn("split", col("n_comms") > 1L)
  }

  private def duckAgreementSql: String = {
    val lpaRounds = (1 to LpaIters).map { i =>
      s"""f$i AS MATERIALIZED (
            SELECT v.doc_id, COALESCE(m.nlbl, v.lbl) AS lbl
            FROM f${i - 1} v LEFT JOIN (
              SELECT doc_a AS doc_id, nlbl FROM (
                SELECT doc_a, nlbl,
                       row_number() OVER (PARTITION BY doc_a
                         ORDER BY COUNT(*) DESC, nlbl) AS rn
                FROM (
                  SELECT e.doc_a, p.lbl AS nlbl
                  FROM edges e JOIN f${i - 1} p ON p.doc_id = e.doc_b
                  UNION ALL
                  SELECT doc_id AS doc_a, lbl AS nlbl FROM f${i - 1})
                GROUP BY doc_a, nlbl)
              WHERE rn = 1) m USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        l0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $duckClusterRounds,
        f0 AS (SELECT doc_id, doc_id AS lbl FROM corpus),
        $lpaRounds,
        j AS (SELECT c.doc_id, c.lbl AS cluster_id, f.lbl AS community
              FROM l$ClusterIters c JOIN f$LpaIters f USING (doc_id)),
        pc AS (SELECT cluster_id, community, COUNT(*) AS n
               FROM j GROUP BY 1, 2),
        cs AS (SELECT community, COUNT(DISTINCT cluster_id) AS comm_span
               FROM pc GROUP BY 1),
        agg AS (SELECT cluster_id,
                       CAST(SUM(n) AS BIGINT) AS n_docs,
                       CAST(COUNT(*) AS BIGINT) AS n_comms,
                       CAST(SUM(CASE WHEN comm_span > 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_merged_comms
                FROM pc JOIN cs USING (community) GROUP BY 1),
        top AS (SELECT cluster_id, community AS top_comm, n AS top_n
                FROM (SELECT pc.*,
                             row_number() OVER (PARTITION BY cluster_id
                               ORDER BY n DESC, community) AS rn
                      FROM pc)
                WHERE rn = 1)
        SELECT a.cluster_id, n_docs, n_comms, n_merged_comms,
               top_comm, top_n,
               CAST((top_n * 1000) // n_docs AS BIGINT) AS purity_pm,
               n_comms > 1 AS split
        FROM agg a JOIN top USING (cluster_id)"""
  }

  // ------------------------------------------------------------------
  // registry
  // ------------------------------------------------------------------

  /** d25 — PER-SOURCE DUPLICATION REPORT: the crawl-budget telemetry
    * a curation org actually steers by — per `source`: corpus volume,
    * how many of its docs are exact copies of an earlier doc (d01's
    * min-id keeper rule: a doc is an exact dup iff it is not its
    * content-hash group's keeper), how many participate in a near-dup
    * relation (any endpoint of the standing simhash edge set,
    * restricted to base ids — the planted fixture cohorts don't
    * charge any source), and both rates in exact per-mille. A source
    * running hot on dup-rate is paying crawl, storage and dedup
    * compute to re-acquire what it already has — this relation is
    * where that shows up first.
    *
    * Scale shape: one content-hash shuffle (d01's), one reuse of the
    * materialized `simhashEdges` artifact reduced to a distinct-id
    * relation, one |sources|-row rollup. Nothing new scales with
    * corpus².
    */
  val d25_source_dup_report: Q = (spark, dir) => {
    val base = documents(spark, dir)
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val keepers = base.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val near = simhashEdges(spark, dir)
      .where(col("doc_a") < 1000000L && col("doc_b") < 1000000L)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    base.join(keepers, Seq("h"))
      .join(near, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L))
          .as("n_exact_dup"),
        sum(when(coalesce(col("is_near"), lit(false)), 1L).otherwise(0L))
          .as("n_near_dup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"),
        expr("n_exact_dup * 1000 div n_docs").as("exact_dup_pm"),
        expr("n_near_dup * 1000 div n_docs").as("near_dup_pm"))
  }

  /** d26 — CORPUS OVERLAP MATRIX: pairwise content overlap between
    * sources at the SHINGLE level (exact doc-hash overlap misses
    * near-copies and partial quotes entirely — this fixture has zero
    * cross-source exact dups but hundreds of shared shingles): per
    * unordered source pair, the common distinct-3-shingle count, both
    * directed containments and the Jaccard, each in exact per-mille —
    * the licensing/provenance audit ("how much of source B is already
    * in A?") and the crawl-dedup prioritizer across feeds. Shingles
    * project through the same codegen'd `word_shingles3` as the whole
    * d-family.
    *
    * Scale shape: one (source, shingle) distinct exchange, then a
    * self equi-join ON THE SHINGLE — a shingle shared by s sources
    * emits s·(s−1)/2 pair rows, bounded by the source registry (a
    * catalog, not data volume); the per-source size join broadcasts
    * the |sources|-row rollup. Never all-pairs over docs.
    */
  val d26_source_overlap: Q = (spark, dir) => {
    val sh = sourceShingles(spark, dir)
    val pairs = sh.as("a").join(sh.as("b"), Seq("sh"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    overlapTail(sh, pairs)
  }

  /** The distinct (source, 3-shingle) relation d26/st83 share. */
  private[graft] def sourceShingles(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    documents(spark, dir)
      .select(col("source"), explode(shingles(col("text"))).as("sh"))
      .distinct()
  }

  /** d26's per-mille tail over any (src_a, src_b, n_common) pair
    * relation — shared with st83, where the pairs are accumulated at
    * ingest.
    */
  private[graft] def overlapTail(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n_sh").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n_sh").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_common"), col("n_a"),
        col("n_b"),
        expr("n_common * 1000 div n_a").as("contain_a_pm"),
        expr("n_common * 1000 div n_b").as("contain_b_pm"),
        expr("n_common * 1000 div (n_a + n_b - n_common)").as("jaccard_pm"))
  }

  private def duckSourceOverlapSql: String =
    s"""WITH sh0 AS (SELECT DISTINCT source, unnest($duckShingleExpr) AS sh
                     FROM documents),
        sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh
               FROM sh0 GROUP BY 1),
        j AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS n_common
              FROM sh0 a JOIN sh0 b USING (sh)
              WHERE a.source < b.source GROUP BY 1, 2)
        SELECT src_a, src_b, n_common, ca.n_sh AS n_a, cb.n_sh AS n_b,
               n_common * 1000 // ca.n_sh AS contain_a_pm,
               n_common * 1000 // cb.n_sh AS contain_b_pm,
               n_common * 1000 // (ca.n_sh + cb.n_sh - n_common)
                 AS jaccard_pm
        FROM j JOIN sz ca ON src_a = ca.source
               JOIN sz cb ON src_b = cb.source"""

  private def duckSourceDupSql: String =
    s"""WITH $duckNearCorpus, $duckSimhashBandsSql, $duckEdgeCtes,
        base AS (SELECT doc_id, source, md5(text) AS h FROM documents),
        k AS (SELECT h, MIN(doc_id) AS keeper FROM base GROUP BY 1),
        nr AS (SELECT DISTINCT doc_a AS doc_id FROM edges
               WHERE doc_a < 1000000 AND doc_b < 1000000),
        f AS (SELECT b.doc_id, b.source,
                     b.doc_id <> k.keeper AS is_exact,
                     nr.doc_id IS NOT NULL AS is_near
              FROM base b JOIN k USING (h) LEFT JOIN nr USING (doc_id))
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_exact_dup,
               CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_near_dup,
               CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) * 1000
                    // COUNT(*) AS BIGINT) AS exact_dup_pm,
               CAST(SUM(CASE WHEN is_near THEN 1 ELSE 0 END) * 1000
                    // COUNT(*) AS BIGINT) AS near_dup_pm
        FROM f GROUP BY 1"""

  val queries: Map[String, Q] = Map(
    "d25_source_dup_report" -> d25_source_dup_report,
    "d31_kcore" -> d31_kcore,
    "d32_minhash_error" -> d32_minhash_error,
    "d33_harmonic_centrality" -> d33_harmonic_centrality,
    "d33x_harmonic_rotblock" -> d33x_harmonic_rotblock,
    "d37_harmonic_kmvball" -> d37_harmonic_kmvball,
    "d34_star_components" -> d34_star_components,
    "d35_simhash_rotblock" -> d35_simhash_rotblock,
    "d36_rotblock_recall" -> d36_rotblock_recall,
    "d26_source_overlap" -> d26_source_overlap,
    "d27_cluster_sizes" -> d27_cluster_sizes,
    "d30_pagerank" -> d30_pagerank,
    "d28_dedup_savings" -> d28_dedup_savings,
    "d29_cluster_representative" -> d29_cluster_representative,
    "d24_partition_agreement" -> d24_partition_agreement,
    "d22_triangle_count" -> d22_triangle_count,
    "d23_lpa_communities" -> d23_lpa_communities,
    "d01_exact_dedup" -> d01_exact_dedup,
    "d02_minhash_lsh" -> d02_minhash_lsh,
    "d03_simhash" -> d03_simhash,
    "d04_ngram_jaccard" -> d04_ngram_jaccard,
    "d18_containment" -> d18_containment,
    "d21_incremental_containment" -> d21_incremental_containment,
    "d06_dedup_materialize" -> d06_dedup_materialize,
    "d07_dedup_clusters" -> d07_dedup_clusters,
    "d19_cluster_split" -> d19_cluster_split,
    "d08_decontam" -> d08_decontam,
    "d09_lsh_tuning" -> d09_lsh_tuning,
    "d11_incremental_dedup" -> d11_incremental_dedup,
    "d12_incremental_neardup" -> d12_incremental_neardup,
    "d13_passage_dedup" -> d13_passage_dedup,
    "d14_canonical_rank" -> d14_canonical_rank,
    "d15_fuzzy_match" -> d15_fuzzy_match,
    "d16_eval_leakage" -> d16_eval_leakage,
  )

  val oracles: Map[String, String] = Map(
    "d22_triangle_count" -> duckTriangleSql,
    "d31_kcore" -> duckKcoreSql,
    "d32_minhash_error" -> duckMinhashErrorSql,
    "d33_harmonic_centrality" -> duckHarmonicSql,
    "d33x_harmonic_rotblock" -> duckHarmonicRotSql,
    "d37_harmonic_kmvball" -> duckKmvBallSql,
    "d35_simhash_rotblock" -> duckRotBlockSql,
    "d36_rotblock_recall" -> duckRotRecallSql,
    // d34: the star algorithm must land exactly on d07's (converged)
    // K-round propagation labels — an independent-algorithm oracle
    "d34_star_components" -> duckClusterSql,
    "d23_lpa_communities" -> duckLpaSql,
    "d24_partition_agreement" -> duckAgreementSql,
    "d25_source_dup_report" -> duckSourceDupSql,
    "d26_source_overlap" -> duckSourceOverlapSql,
    "d27_cluster_sizes" -> duckClusterSizesSql,
    "d28_dedup_savings" -> duckDedupSavingsSql,
    "d29_cluster_representative" -> duckClusterRepSql,
    "d01_exact_dedup" ->
      s"""WITH $duckExactCorpus
          SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
                 COUNT(*) AS n_copies
          FROM corpus GROUP BY 1""",
    "d06_dedup_materialize" ->
      s"""WITH $duckExactCorpus
          SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash
          FROM corpus GROUP BY md5(text)""",
    "d02_minhash_lsh" -> duckMinhashSql,
    "d03_simhash" -> duckSimhashSql,
    "d04_ngram_jaccard" -> duckNgramSql,
    "d18_containment" -> duckContainmentSql,
    "d21_incremental_containment" -> duckIncContainmentSql,
    "d07_dedup_clusters" -> duckClusterSql,
    "d30_pagerank" -> duckPagerankSql,
    "d19_cluster_split" -> duckClusterSplitSql,
    "d08_decontam" -> duckDecontamSql,
    "d16_eval_leakage" -> duckEvalLeakageSql,
    "d09_lsh_tuning" -> duckLshSweepSql,
    "d11_incremental_dedup" ->
      """WITH existing AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
                    UNION ALL
                    SELECT doc_id + 1000000 AS doc_id, text FROM documents
                    WHERE doc_id % 10 = 0 AND doc_id % 40 = 0
                    UNION ALL
                    SELECT doc_id + 2000000 AS doc_id, text FROM existing
                    WHERE doc_id % 7 = 1),
          eh AS (SELECT DISTINCT md5(text) AS content_hash FROM existing)
          SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
                 COUNT(*) AS n_copies
          FROM delta
          WHERE md5(text) NOT IN (SELECT content_hash FROM eh)
          GROUP BY 1""",
    "d12_incremental_neardup" -> duckIncNearDupSql,
    "d13_passage_dedup" -> duckPassageDedupSql,
    "d14_canonical_rank" -> duckCanonicalRankSql,
    "d15_fuzzy_match" ->
      """WITH fz AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000,
                   array_to_string(
                     string_split(text, ' ')[1:7] || ['zz'] ||
                     string_split(text, ' ')[9:], ' ')
            FROM documents WHERE doc_id % 10 = 0),
          c0 AS (SELECT doc_id, substring(text, 1, 16) AS blk,
                        substring(text, 1, 96) AS head
                 FROM fz),
          c AS (SELECT doc_id, blk, head FROM c0
                QUALIFY COUNT(*) OVER (PARTITION BY blk) <= 64)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
          FROM c a JOIN c b ON a.blk = b.blk AND a.doc_id < b.doc_id
          WHERE levenshtein(a.head, b.head) <= 16""",
  )
}
