package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Batch (DataFrame) re-expressions of the reference's relational
  * operator surface (SURVEY.md §2), re-based onto the driver testdata
  * star schema: lineitem≈order_detail, orders≈order_info,
  * part≈sku/trademark dims, customer≈user_info, nation/region≈province,
  * events≈start_log.
  *
  * Every operator is a pure `(SparkSession, sfDir) => DataFrame` whose
  * logical plan is fully declarative — Catalyst handles predicate
  * pushdown, column pruning and join-strategy selection; nothing here
  * collects to the driver or loops row-at-a-time.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  // --------------------------------------------------------------------
  // S — sources (batch-visible slice)
  // --------------------------------------------------------------------

  /** S6 — dimension scan with predicate (reference: arbitrary Phoenix SQL
    * scan, utils/HbaseUtils.scala:21-48). Here: nation⋈region dim lookup
    * with a pushed-down filter; both dims are tiny → Catalyst plans a
    * broadcast hash join, the filter reaches the parquet scan.
    */
  val s06_dim_scan: Q = (spark, dir) => {
    val n = nation(spark, dir)
    val r = region(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .where(col("r_name").isin("ASIA", "EUROPE"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
  }

  // --------------------------------------------------------------------
  // P — projections / filters / scalar derivations
  // --------------------------------------------------------------------

  /** P2 — CDC routing filter (ods/KafkaToODS_M.scala:49-69): keep rows
    * whose (table,type) is allow-listed, tag each with its fan-out
    * route `"ods_"+table`. Here event_type plays the CDC table name.
    */
  val p02_cdc_route: Q = (spark, dir) => {
    events(spark, dir)
      .where(col("event_type").isin("purchase", "signup", "click"))
      .withColumn("route", concat(lit("ods_"), col("event_type")))
      .select(col("event_id"), col("event_type"), col("route"), col("user_id"))
  }

  /** p27 — p02's CDC ROUTING OVER A VARIANT ENVELOPE (ods/KafkaToODS_M
    * .scala:49-52 routes on the fastjson envelope's (table, type)
    * pair): the envelope is parsed ONCE with `parse_json` into a
    * shredded variant and both the allow-list predicate and the
    * routed projection read typed paths out of it — the open-schema
    * ingest front door, where p02 assumes the fields are already
    * relational columns and p01's `from_json` declares a closed
    * StructType. The type allow-list keeps `insert`/`update` and
    * drops `bootstrap-insert` (the reference's historical-dump tag,
    * same file line 55). Shuffle-free: parse + filter + extraction
    * are one codegen'd projection over the scan; at 100 TB the win
    * over re-parsing text per consumer is that every downstream
    * route reads sub-columnar shredded paths from the SAME parse
    * (see f13's adjudication).
    */
  val p27_variant_route: Q = (spark, dir) => variantRoute(events(spark, dir))

  /** The variant-route transform itself, source-agnostic (the
    * `Pipelines` discipline): p27 runs it over the batch table,
    * st117 over the replayed stream — same codegen'd projection, no
    * stateful operator, so the streamed twin is the batch plan on a
    * micro-batched scan.
    */
  private[graft] def variantRoute(src: DataFrame): DataFrame = {
    val op = when(col("event_id") % 3 === 0, lit("insert"))
      .when(col("event_id") % 3 === 1, lit("update"))
      .otherwise(lit("bootstrap-insert"))
    val env = concat(lit("{\"table\": \""), col("event_type"),
      lit("\", \"type\": \""), op,
      lit("\", \"data\": {\"id\": "), col("user_id").cast("string"),
      lit("}}"))
    src
      .select(col("event_id"), env.as("envelope"))
      .withColumn("v", parse_json(col("envelope")))
      .where(variant_get(col("v"), "$.table", "string")
          .isin("purchase", "signup", "click") &&
        variant_get(col("v"), "$.type", "string").isin("insert", "update"))
      .select(col("event_id"),
        variant_get(col("v"), "$.table", "string").as("tbl"),
        variant_get(col("v"), "$.type", "string").as("op"),
        concat(lit("ods_"),
          variant_get(col("v"), "$.table", "string")).as("route"),
        variant_get(col("v"), "$.data.id", "long").as("row_id"))
  }

  /** P3 — date + hour derivation from a timestamp
    * (dwd/Ods_to_DWD_order_info.scala:59-64, string split in the
    * reference; declarative date functions here).
    */
  val p03_date_hour: Q = (spark, dir) => {
    events(spark, dir).select(
      col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd").as("dt"),
      date_format(col("ts"), "HH").as("hr"))
  }

  /** P4 — epoch-millis → date/hour strings (app/Dau.scala:62-75). The
    * round-trip ts→millis→ts exercises the epoch conversions the DAU
    * app does with SimpleDateFormat.
    */
  val p04_epoch_derive: Q = (spark, dir) => {
    events(spark, dir).select(
      col("event_id"),
      unix_millis(col("ts")).as("ts_ms"),
      date_format(timestamp_millis(unix_millis(col("ts"))), "yyyy-MM-dd").as("dt"),
      date_format(timestamp_millis(unix_millis(col("ts"))), "HH").as("hr"))
  }

  /** P5 — bucketing with when/otherwise chains + Chinese labels
    * (age groups, dim/User_info_APP.scala:54-65). The reference buckets
    * wall-clock age; testdata has no birthday, so the same three-way
    * bucket logic runs on days-since-order against a *pinned* "now"
    * (SURVEY §7.4: wall-clock must be injected for testability).
    */
  val p05_age_bucket: Q = (spark, dir) => {
    // cast to long: DuckDB date_diff returns BIGINT — schema must match
    val ageDays = datediff(to_date(lit("2026-01-01")), to_date(col("o_orderdate"))).cast("long")
    orders(spark, dir).select(
      col("o_orderkey"),
      ageDays.as("age_days"),
      when(ageDays < 365, "20岁及以下")
        .when(ageDays <= 500, "20岁到30岁")
        .otherwise("30岁及以上").as("age_group"))
  }

  /** P6 — code decode (gender "M"→"男"/"女",
    * dim/User_info_APP.scala:66-70) — two-way decode on a code column.
    */
  val p06_decode: Q = (spark, dir) => {
    customer(spark, dir).select(
      col("c_custkey"),
      when(col("c_mktsegment") === "AUTOMOBILE", "男").otherwise("女").as("segment_decoded"))
  }

  /** P7 — composite grouping key via concat
    * (ads/TradeMarkAmountApp.scala:53). */
  val p07_composite_key: Q = (spark, dir) => {
    part(spark, dir).select(
      col("p_partkey"),
      concat_ws("_", col("p_brand"), col("p_type")).as("brand_type_key"))
  }

  /** P8 — key split back into fields (ads/TradeMarkAmountApp.scala:72-74). */
  val p08_key_split: Q = (spark, dir) => {
    part(spark, dir)
      .select(col("p_partkey"),
        concat_ws("_", col("p_brand"), col("p_size")).as("k"))
      .select(col("p_partkey"),
        split(col("k"), "_").getItem(0).as("brand"),
        split(col("k"), "_").getItem(1).as("size_str"))
  }

  /** P9 — flag filter (first-orders only,
    * dwd/Ods_to_DWD_order_info.scala:219). */
  val p09_filter_flag: Q = (spark, dir) => {
    lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
  }

  /** P10 — bean merge / row widening (bean/OrderWide.scala:46-95): the
    * 25-field OrderWide copy-constructor becomes a join projection with
    * renames.
    */
  val p10_bean_merge: Q = (spark, dir) => {
    val oi = orders(spark, dir)
    val od = lineitem(spark, dir)
    od.join(oi, od("l_orderkey") === oi("o_orderkey"))
      .select(
        od("l_orderkey").as("order_id"),
        od("l_linenumber").as("order_detail_id"),
        od("l_partkey").as("sku_id"),
        od("l_quantity").as("sku_num"),
        od("l_extendedprice").as("order_price"),
        oi("o_custkey").as("user_id"),
        oi("o_orderstatus").as("order_status"),
        oi("o_totalprice").as("final_total_amount"),
        date_format(oi("o_orderdate"), "yyyy-MM-dd").as("dt"))
  }

  /** P11 — envelope flatten: JSON field access after parse
    * (ods/KafkaToODS_M.scala:49-52; app/Dau.scala:136-147). */
  val p11_json_flatten: Q = (spark, dir) => {
    events(spark, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k"))
  }

  /** P14 — CORRUPT-RECORD ROUTING AT THE PARSER: the PERMISSIVE-mode
    * contract every JSON ingest needs — a malformed payload must
    * neither crash the job (FAILFAST at 100 TB means one bad producer
    * kills the nightly) nor silently vanish (DROPMALFORMED loses
    * data): it routes to quarantine WITH its raw payload preserved
    * for replay, the parser-level layer of p12's row-level DQ
    * quarantine. Corruption is injected deterministically (a leading
    * brace on every 11th payload) so the differential can check the
    * routing itself: `columnNameOfCorruptRecord` captures the raw
    * text of unparseable rows while parseable rows project their
    * fields — one stateless codegen'd projection, no shuffle. The
    * DuckDB twin routes on json_valid.
    */
  val p14_corrupt_route: Q = (spark, dir) => corruptRouteOf(events(spark, dir))

  /** p14's corruption injection and PERMISSIVE routing over any
    * (event_id, props) relation — st48 passes its event stream.
    */
  private[graft] def corruptRouteOf(ev: DataFrame): DataFrame = {
    val raw = when(col("event_id") % 11 === 0, concat(lit("}"), col("props")))
      .otherwise(col("props"))
    ev.select(col("event_id"), raw.as("raw"))
      .withColumn("p", from_json(col("raw"), "k STRING, _corrupt STRING",
        java.util.Map.of("columnNameOfCorruptRecord", "_corrupt")))
      .select(col("event_id"),
        when(col("p._corrupt").isNull, col("p.k")).as("k"),
        col("p._corrupt").isNotNull.as("quarantined"),
        when(col("p._corrupt").isNotNull, col("raw")).as("raw_payload"))
  }

  /** p16 — QUARANTINE REPLAY: the recovery half of the dead-letter
    * loop p14 opened (route → PATCH → replay → verify), closing the
    * fifth operational loop: quarantined payloads (raw text
    * preserved, p14's contract) are re-parsed after the producer's
    * fix — here the deterministic leading-brace strip the p14
    * docstring diagnosed — and each replayed row carries BOTH the
    * recovered value and an audit compare against the never-corrupted
    * parse of the same event, so the replay job itself proves
    * recovered ≡ clean before re-admitting anything (a replay that
    * silently re-admits half-fixed rows is how quarantines corrupt
    * downstream tables). On this fixture every row recovers and
    * matches — the assertion IS the query's content, and the oracle
    * re-derives the same values from the pristine column.
    *
    * Scale shape: the quarantine lane is a filtered scan (its
    * selectivity is the corruption rate); the patch + re-parse are
    * per-row projections; the audit join is keyed on event_id against
    * the source scan. No state, no second pass over clean traffic.
    */
  val p16_quarantine_replay: Q = (spark, dir) => {
    val quarantined = p14_corrupt_route(spark, dir).where(col("quarantined"))
    val patched = regexp_replace(col("raw_payload"), "^\\}", "")
    val clean = events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), lit("k STRING")).getField("k").as("k_clean"))
    quarantined
      .withColumn("p", from_json(patched, "k STRING, _corrupt STRING",
        java.util.Map.of("columnNameOfCorruptRecord", "_corrupt")))
      .select(col("event_id"), col("p.k").as("k"),
        col("p._corrupt").isNull.as("recovered"))
      .join(clean, "event_id")
      .select(col("event_id"), col("k"), col("recovered"),
        (col("k") <=> col("k_clean")).as("matches_clean"))
  }

  private val maskPolicyCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** p18 — COLUMN MASKING POLICY (governance as data): project a
    * table through a POLICY RELATION — (column, action) rows with
    * action ∈ keep / drop / hash / bucket — instead of a hand-written
    * select, the column-level-security layer every governed warehouse
    * puts between raw tables and consumers (views per audience,
    * driven from a catalog). Actions here: `props` drops (free-form
    * payloads are unauditable), `user_id` pseudonymizes through the
    * portable keyed hash (stable joins survive, identity doesn't),
    * `value` coarsens to decade buckets (k-anonymity-style
    * generalization), the rest pass. The policy lands as a real
    * parquet artifact and is read back and COLLECTED to build the
    * projection — a ≤|columns|-row decision read, the documented
    * bounded driver-action contract (the d09/n16 ≤64-row rule):
    * policies size with schemas, never with data.
    *
    * Scale shape: one stateless projection once built; masking adds
    * zero shuffles. The oracle applies the same policy statically —
    * the differential proves the dynamic build resolves to the right
    * projection.
    */
  /** [[p18_masking_policy]]'s dynamic projection over any
    * events-shaped relation — the policy read + column build, shared
    * with the ingest twin st65 (governance applied AT the door).
    */
  private[graft] def maskWith(spark: SparkSession, ev: DataFrame): DataFrame = {
    import spark.implicits._
    val polPath = maskPolicyCache.computeIfAbsent("policy", _ => {
      val p = s"${graft.Tables.scratchDir("graft_policy_")}/policy"
      Seq(("user_id", "hash"), ("props", "drop"), ("value", "bucket"))
        .toDF("column", "action").coalesce(1).write.parquet(p)
      p
    })
    // head(16), not collect: the read is bounded by the CONTRACT
    // (policies have ≤ |columns| rows), and the bound is explicit
    val policy = spark.read.parquet(polPath)
      .head(16).map(r => r.getString(0) -> r.getString(1)).toMap
    val masked = ev.columns.toSeq.flatMap { c =>
      policy.getOrElse(c, "keep") match {
        case "drop" => None
        case "hash" => Some(graft.functions.Portable.hash60(
          concat(lit("mask:"), col(c).cast("string"))).as(s"${c}_hashed"))
        case "bucket" => Some((floor(col(c) / 10) * 10).as(s"${c}_bucket"))
        case _ => Some(col(c))
      }
    }
    ev.select(masked: _*)
  }

  val p18_masking_policy: Q = (spark, dir) =>
    maskWith(spark, events(spark, dir))

  /** p17 — SNAPSHOT DIFF: the added/removed/changed delta between two
    * versions of a keyed table — the table-versioning primitive every
    * lakehouse workflow leans on (incremental exports, CDC backfill
    * reconciliation, audit of a nightly rebuild against yesterday's:
    * what did the pipeline actually change?). The "new" snapshot is
    * derived deterministically from documents: every doc_id%11==5 row
    * removed, every %7==3 row's text mutated, and a %13==2 cohort
    * re-added under the planted-fixture id offset (headroom-asserted
    * in [[graft.Tables.documents]]).
    *
    * Scale shape: ONE full-outer join keyed on doc_id (sort-merge;
    * both sides shuffle once), classification is row-local, and
    * UNCHANGED rows are suppressed — the output is the delta, not the
    * corpus, so a 100 TB diff with 0.1 % churn emits 100 GB. Rows
    * here carry lengths only; at scale the compare column is a
    * fingerprint (xxhash64) computed AT WRITE time and stored with
    * each snapshot, so the diff never ships text — the differential
    * compares the text directly because string equality is the
    * engine-portable form of that fingerprint compare.
    */
  val p17_snapshot_diff: Q = (spark, dir) => {
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    val next = base.where(!(col("doc_id") % 11 === 5))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [v2]")))
          .otherwise(col("text")).as("text"))
      .unionAll(base.where(col("doc_id") % 13 === 2)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" [new]")).as("text")))
    val o = base.select(col("doc_id").as("okey"), col("text").as("old_text"))
    val n = next.select(col("doc_id").as("nkey"), col("text").as("new_text"))
    o.join(n, col("okey") === col("nkey"), "full_outer")
      .select(coalesce(col("okey"), col("nkey")).as("doc_id"),
        when(col("okey").isNull, "added")
          .when(col("nkey").isNull, "removed")
          .when(col("old_text") =!= col("new_text"), "changed").as("change"),
        length(col("old_text")).cast("long").as("old_len"),
        length(col("new_text")).cast("long").as("new_len"))
      .where(col("change").isNotNull)
  }

  /** P15 — DATA-CONTRACT CHECKS: the constraint battery a table's
    * producer publishes and its consumers gate on (the dbt-test /
    * expectations layer) — one row per named constraint with its
    * violation count and verdict, so a landing job can fail-fast on
    * `passed = false` and an ops dashboard trends the counts. Five
    * constraint CLASSES over events: non-null (ts), domain
    * (event_type in the published enum), range (value ≥ 0),
    * uniqueness (event_id), and referential integrity (user_id ⊆
    * customer keys). Uniqueness is count−distinct; RI is a left-anti
    * count against the key side — at 100 TB that anti-join is the
    * j13 bloom-prune shape (summary-first, exact join on probable
    * misses only), documented rather than forced here.
    *
    * Scale shape: the four row-local constraints ride ONE scan as
    * conditional aggregates; uniqueness adds one distinct; RI one
    * anti-join against the (broadcastable) key projection. Output is
    * |constraints| rows.
    */
  val p15_contract_checks: Q = (spark, dir) => {
    val ev = events(spark, dir)
    val known = Seq("click", "error", "purchase", "signup", "view")
    val rowLocal = ev.agg(
      sum(when(col("ts").isNull, 1L).otherwise(0L)).as("ts_not_null"),
      sum(when(!col("event_type").isin(known: _*), 1L).otherwise(0L))
        .as("event_type_in_enum"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("value_non_negative"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("event_id_unique"))
    val ri = ev.select(col("user_id"))
      .join(customer(spark, dir).select(col("c_custkey").as("user_id")),
        Seq("user_id"), "left_anti")
      .agg(count(lit(1)).as("user_id_in_customer"))
    val wide = rowLocal.join(ri, lit(true), "left")
    val checks = Seq("ts_not_null", "event_type_in_enum", "value_non_negative",
      "event_id_unique", "user_id_in_customer")
    checks.map(c => wide.select(lit(c).as("constraint_name"),
        col(c).as("n_violations"), (col(c) === 0L).as("passed")))
      .reduce(_ unionAll _)
  }

  /** P1 — typed envelope parse: `from_json` with a declared StructType
    * (dwd/Ods_to_DWD_order_info.scala:55-66 — fastjson
    * `JSON.parseObject(v, classOf[T])`; app/Dau.scala:136-147 nested
    * `{common:{…}, ts}` start-log envelope). Two layers exercised:
    * (1) the real `props` JSON column parsed against a declared schema,
    * (2) a nested CDC-style envelope serialized with `to_json` and
    * re-parsed with a nested StructType — absent fields become NULL
    * (from_json is null-on-mismatch like fastjson), never a crash.
    */
  val p01_envelope_parse: Q = (spark, dir) => {
    import org.apache.spark.sql.types._
    val propsSchema = StructType(Seq(StructField("k", LongType)))
    val envSchema = StructType(Seq(
      StructField("common", StructType(Seq(
        StructField("uid", LongType),
        StructField("ch", StringType)))),
      StructField("ts_ms", LongType),
      StructField("missing_field", StringType))) // absent in data → NULL
    events(spark, dir)
      .withColumn("envelope", to_json(struct(
        struct(col("user_id").as("uid"), col("event_type").as("ch")).as("common"),
        unix_millis(col("ts")).as("ts_ms"))))
      .withColumn("parsed", from_json(col("envelope"), envSchema))
      .select(
        col("event_id"),
        from_json(col("props"), propsSchema).getField("k").as("prop_k"),
        col("parsed.common.uid").as("uid"),
        col("parsed.common.ch").as("channel"),
        col("parsed.ts_ms").as("ts_ms"),
        col("parsed.missing_field").as("missing_field"))
  }

  /** p12 — DATA-QUALITY QUARANTINE: malformed and schema-violating
    * envelopes are routed OUT of the pipeline with a machine-readable
    * reason instead of silently nulling through (the reference
    * try/catches fastjson and drops the record on the floor —
    * quarantining is what a production DQ gate does so bad producers
    * are debuggable). The corpus plants all three failure classes: a
    * truncated payload (invalid JSON), a valid-JSON envelope missing
    * the required field, and a valid-JSON envelope whose field carries
    * the WRONG TYPE. Parse failures are detected with the PERMISSIVE
    * corrupt-record column — a real parse verdict from the JSON
    * parser, not a construction mirror. The required field is parsed
    * as STRING in both engines and its type verdict is an explicit
    * integer-shape regex — NOT an engine cast, whose non-integral
    * coercion rules diverge (Spark CAST('1.5' AS BIGINT) truncates,
    * DuckDB TRY_CAST nulls — the round-7 advisor item); with a shared
    * regex the taxonomy is engine-portable by construction.
    *
    * Shuffle-free: parse, classify and filter are one codegen'd
    * projection over the scan — the quarantine writer in a real deploy
    * is just `.where` twice over this plan (matched → main, reason →
    * dead-letter), both map-side.
    */
  val p12_quarantine: Q = (spark, dir) => quarantineOf(events(spark, dir))

  /** p12's fault injection and verdict battery over any (event_id,
    * props) relation — st25 passes its event stream.
    */
  private[graft] def quarantineOf(rel: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val propsSchema = StructType(Seq(
      StructField("k", StringType),
      StructField("_corrupt_record", StringType)))
    val ev = rel.select(col("event_id"), col("props"))
    val truncated = ev.where(col("event_id") % 20 === 0)
      .select((col("event_id") + 1000000000L).as("event_id"),
        col("props").substr(lit(1), length(col("props")) - 2).as("props"))
    val wrongKey = ev.where(col("event_id") % 20 === 10)
      .select((col("event_id") + 2000000000L).as("event_id"),
        replace(col("props"), lit("\"k\""), lit("\"x\"")).as("props"))
    val wrongType = ev.where(col("event_id") % 20 === 5)
      .select((col("event_id") + 3000000000L).as("event_id"),
        regexp_replace(col("props"), lit("[0-9]+"), lit("\"x\"")).as("props"))
    ev.unionAll(truncated).unionAll(wrongKey).unionAll(wrongType)
      .withColumn("parsed", from_json(col("props"), propsSchema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
      .withColumn("reason",
        when(col("parsed").isNull || col("parsed._corrupt_record").isNotNull,
          "malformed_json")
          .when(col("parsed.k").isNull, "missing_field")
          .when(!col("parsed.k").rlike("^-?[0-9]+$"), "type_mismatch"))
      .where(col("reason").isNotNull)
      .select(col("event_id"), col("props"), col("reason"))
  }

  // --------------------------------------------------------------------
  // J — joins
  // --------------------------------------------------------------------

  /** J1 — per-partition dim lookup join (dwd/OrderDetailApp.scala:65-85,
    * hand-built hash join over Phoenix `id IN (…)`): a stream-static
    * left join on the dim key. No broadcast hint: `part` grows linearly
    * with SF (a forced broadcast OOMs at 100×) — Catalyst picks
    * broadcast-hash while under `autoBroadcastJoinThreshold` and falls
    * back to shuffled hash/SMJ (AQE handles skew) beyond it. NULL dim
    * fields on miss (fixing the reference's NPE, SURVEY §7.1).
    */
  val j01_lookup_join: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"), "left")
      .select(
        li("l_orderkey"), li("l_linenumber"), li("l_partkey"),
        p("p_name").as("sku_name"),
        p("p_brand").as("tm_name"),
        p("p_type").as("category_name"))
  }

  /** J2 — broadcast multi-dim enrichment (3-way,
    * dim/SkuInfoApp.scala:61-117 + province join
    * dwd/Ods_to_DWD_order_info.scala:161-186): fact → customer →
    * nation → region. Only the *bounded* dims (nation: 25 rows,
    * region: 5 rows) carry a broadcast hint; `customer` scales with SF
    * so its strategy is left to the auto-broadcast threshold + AQE —
    * under the threshold this still plans as three chained broadcast
    * hash joins with zero fact-side shuffles.
    */
  val j02_broadcast_enrich: Q = (spark, dir) => {
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(
        o("o_orderkey"), o("o_custkey"),
        c("c_name").as("user_name"),
        n("n_name").as("province_name"),
        r("r_name").as("region_name"))
  }

  /** j28 — THE FULL STAR JOIN (TPC-H Q5 shape on this schema): fact
    * (lineitem) against BOTH dimension arms at once — the order arm
    * (orders→customer) and the supply arm (supplier), closed by the
    * local-supplier correlation c_nationkey = s_nationkey, rolled up
    * to per-nation revenue inside one region and date slice. This is
    * the query shape that exercises everything the join section
    * builds piecewise: the date and region predicates PUSH DOWN into
    * the fact and dim scans, bounded dims (nation/region) carry
    * explicit broadcast hints, SF-scaling dims (orders, customer,
    * supplier) are left to the auto-broadcast threshold + AQE
    * (j01's rule), and Catalyst's cost-based reorder is free to
    * rotate the SF-scaling joins because the plan is declarative.
    * The local-supplier predicate is applied POST-join (it correlates
    * two dims that meet only through the fact row).
    *
    * Scale shape: at 100 TB the fact shuffles at most twice (orders
    * arm, supplier arm — AQE converts either to broadcast when the
    * filtered dim fits); the rollup is 25 groups with map-side
    * partials. Revenue rides the integer-cents contract.
    */
  val j28_star_revenue: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val o = orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val c = customer(spark, dir)
    val s = supplier(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, li("l_suppkey") === s("s_suppkey"))
      .where(c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .where(r("r_name") === "ASIA")
      .groupBy(n("n_name").as("n_name"))
      .agg(graft.Tables.moneySum(
        col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** j29 — SMALL-QUANTITY REVENUE GATE (TPC-H Q17 shape): revenue from
    * lineitems whose quantity is below 20% of that part's average
    * quantity, rolled up per brand. The reference expresses this class
    * as a correlated scalar subquery (per-row "avg for MY part"); the
    * Spark-first form is the SINGLE-PASS de-correlation: the per-part
    * totals ride a window partitioned by l_partkey over the SAME scan
    * that evaluates the gate. (The aggregate+join-back alternative
    * reads the fact TWICE — Catalyst has no automatic shared-subplan
    * materialization, so the self-join's branches each re-scan and
    * re-aggregate; plan-audited before this shape was chosen.) The
    * DuckDB twin deliberately keeps the correlated form, so the
    * differential proves the de-correlation preserves semantics.
    *
    * Float parity: the gate is evaluated as `qty·cnt·5 < Σqty` — all
    * integer-valued doubles (quantities are integral, sums exact below
    * 2^53), so the comparison is EXACT on both engines; no avg-division
    * boundary ulps can flip a row. Revenue rides the integer-cents
    * contract.
    *
    * Scale shape: ONE fact scan, one exchange on l_partkey for the
    * window (partition size = lines per part, bounded by part
    * popularity), then a 25-group rollup with map-side partials.
    */
  val j29_small_qty_revenue: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    val w = Window.partitionBy(col("l_partkey"))
    li.withColumn("sum_qty", sum(col("l_quantity")).over(w))
      .withColumn("cnt_qty", count(lit(1)).over(w))
      .where(col("l_quantity") * col("cnt_qty") * 5 < col("sum_qty"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(graft.Tables.moneySum(col("l_extendedprice")).as("small_rev"),
        count(lit(1)).as("n_lines"))
  }

  /** j30 — ORDER-COUNT DISTRIBUTION (TPC-H Q13 shape): how many
    * customers placed exactly k qualifying orders, including k = 0 —
    * the left-outer-join + COUNT(col) idiom where the count of a
    * NULL-extended column yields the zero bucket (count(*) would not).
    * Two chained aggregations: per-customer order count, then the
    * histogram over counts.
    *
    * Scale shape: one shuffle on o_custkey for the outer join + count
    * (co-partitioned, exchange reused), then a tiny histogram shuffle
    * over ≤ dozens of distinct counts. The priority filter pushes into
    * the orders scan.
    */
  val j30_order_count_distribution: Q = (spark, dir) => {
    val c = customer(spark, dir)
    val o = orders(spark, dir).where(col("o_orderpriority") =!= "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** j31 — ABOVE-AVERAGE SILENT CUSTOMERS (TPC-H Q22 shape): customers
    * whose balance beats the positive-balance average (a scalar
    * subquery → 1-row broadcast join) and who never placed an urgent
    * order (anti-join), grouped per nation. Composes the two
    * subquery decorrelations Q22 needs: scalar-agg → broadcast-1-row,
    * NOT EXISTS → left_anti.
    *
    * Float parity: the threshold is avg over integer-valued cents
    * (exact sum, one IEEE division — bit-identical cross-engine); the
    * comparison side is exact cents. Totals ride the integer-cents
    * contract.
    *
    * Scale shape: the threshold is ONE broadcast row; the anti-join
    * shuffles both sides on custkey once (orders pre-filtered to the
    * urgent slice); final rollup is ≤25 nations.
    */
  val j31_above_avg_silent: Q = (spark, dir) =>
    silentRichOf(customer(spark, dir),
      orders(spark, dir).where(col("o_orderpriority") === "1-URGENT"))

  /** j31's threshold, anti-join and nation rollup: `urgent` is any
    * relation keyed by `o_custkey` — st98 passes its served
    * revocation set.
    */
  private[graft] def silentRichOf(c: DataFrame, urgent: DataFrame): DataFrame = {
    val threshold = c.where(col("c_acctbal") > 0)
      .agg(avg(graft.Tables.cents(col("c_acctbal"))).as("avg_cents"))
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .join(broadcast(threshold), lit(true))
      .where(graft.Tables.cents(col("c_acctbal")) > col("avg_cents"))
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("numcust"),
        graft.Tables.moneySum(col("c_acctbal")).as("totacctbal"))
  }

  /** j32 — CORRELATED LATERAL TOP-K: per-nation top-3 customers by
    * balance via a LATERAL subquery with correlated ORDER BY + LIMIT —
    * the SQL-standard spelling of "grouped top-k" (a08's window form,
    * re-expressed the way an analyst ports it from Postgres/DuckDB).
    * No DataFrame API exists for LATERAL, so this is a deliberate
    * `spark.sql` query over per-query temp views; Catalyst
    * DE-CORRELATES the lateral into a DomainJoin → window-rank plan —
    * the differential (DuckDB executes the lateral natively,
    * per-driving-row) proves the rewrite. Ties broken by c_custkey, so
    * the LIMIT cut is deterministic on both engines.
    *
    * Scale shape: after decorrelation this is a08's shape — one
    * shuffle on the correlation key, rank within group, no
    * per-driving-row execution anywhere.
    */
  val j32_lateral_topk: Q = (spark, dir) => {
    nation(spark, dir).createOrReplaceTempView("j32_nation")
    customer(spark, dir).createOrReplaceTempView("j32_customer")
    spark.sql(
      """SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name,
                t.c_custkey, t.c_name, t.c_acctbal AS acctbal
         FROM j32_nation,
         LATERAL (SELECT c_custkey, c_name, c_acctbal FROM j32_customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t""")
  }

  /** j33 — WAITING-SUPPLIER AUDIT (TPC-H Q21 shape): for each
    * supplier, count completed orders where THIS supplier shipped
    * late (> 90 days after the order date), at least one OTHER
    * supplier participated, and NO other supplier was late — the
    * double correlated EXISTS / NOT EXISTS. The Spark-first form
    * de-correlates both quantifiers into ORDER-PARTITIONED WINDOW
    * aggregates over one (order, supplier) rollup: `n_supp ≥ 2` ≡ the
    * EXISTS, `n_late = 1` (and this supplier late) ≡ the NOT EXISTS.
    * The windows — not a groupBy + join-back — are deliberate: the
    * self-join form reads and aggregates the FACT TWICE (Catalyst has
    * no automatic shared-subplan materialization; plan-audited before
    * this shape was chosen), while the windows ride the rollup's own
    * partitioning. The DuckDB twin keeps the quantifier form verbatim,
    * so the differential proves the rewrite. Late-ness is timestamp
    * arithmetic (+ INTERVAL 90 days), exact on both engines.
    *
    * Scale shape: ONE fact scan → one exchange on (order, supplier)
    * for the rollup → one exchange on order for the two windows
    * (partition size = suppliers per order, bounded by order width) →
    * a |suppliers|-group rollup. The correlated form would be two
    * extra fact self-scans; this is why engines decorrelate.
    */
  val j33_waiting_supplier: Q = (spark, dir) =>
    waitingOf(suppLateOf(lineitem(spark, dir), orders(spark, dir)))

  /** j33's finest grain: the per-(order, supplier) lateness flag over
    * completed orders — st97 upserts it from its lineitem stream.
    */
  private[graft] def suppLateOf(li: DataFrame, o: DataFrame): DataFrame = {
    val done = o.where(col("o_orderstatus") === "F")
    li.join(done, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L).otherwise(0L))
        .as("supp_late"))
  }

  /** j33's two order-level quantifiers and the supplier rollup over
    * the (ok, sk, supp_late) grain — st97 runs them on read.
    */
  private[graft] def waitingOf(perSupp: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ok"))
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("supp_late")).over(w))
      .where(col("supp_late") === 1L && col("n_supp") >= 2 &&
        col("n_late") === 1)
      .groupBy(col("sk").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
  }

  /** a53 — REVENUE-SHARE GATE (TPC-H Q11 shape): suppliers whose
    * revenue exceeds a fraction of the GLOBAL total — the scalar
    * subquery in HAVING position, de-correlated into a 1-row
    * broadcast against the per-supplier rollup (which Spark computes
    * once and reuses for the total via the exchange). The gate is
    * cross-multiplied in exact integer-valued doubles
    * (`rev·2000 > tot·21`, both < 2^53 — no division before the
    * comparison), and the share surfaces as a floored ppm through
    * decimal(38,0) integral division (the a42/st83 overflow
    * discipline: cents·10^6 exceeds a long at production revenue).
    */
  val a53_revenue_share_having: Q = (spark, dir) => {
    val per = lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(graft.Tables.cents(col("l_extendedprice"))).as("rev_cents"))
    val tot = per.agg(sum(col("rev_cents")).as("tot_cents"))
    per.join(broadcast(tot), lit(true))
      .where(col("rev_cents") * 2000 > col("tot_cents") * 21)
      .select(col("s_suppkey"), (col("rev_cents") / 100).as("rev"),
        expr("cast(cast(rev_cents as decimal(38,0)) * 1000000" +
          " div cast(tot_cents as decimal(38,0)) as bigint)")
          .as("share_ppm"))
  }

  /** a54 — EXPLICIT GROUPING SETS (the §2.6 leg rollup/cube can't
    * express): an ARBITRARY set list — both single-dimension margins
    * and the full grain, but NO grand total — via SQL `GROUPING SETS`
    * (no DataFrame API exists; rollup/cube are the only typed
    * entries). Membership markers ride `grouping()` per column
    * (portable — DuckDB's GROUPING_ID bit order is its own; per-column
    * grouping flags are engine-neutral). NULL grouping keys vs
    * grouped-out positions are disambiguated by exactly those flags.
    */
  val a54_grouping_sets: Q = (spark, dir) => {
    lineitem(spark, dir).createOrReplaceTempView("a54_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
                SUM(ROUND(l_extendedprice * 100)) / 100 AS rev,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
         FROM a54_lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                 (l_returnflag, l_linestatus))""")
  }

  /** j34 — ORDER PRIORITY CHECK (TPC-H Q4 shape): orders in one
    * quarter with AT LEAST ONE late line, counted per priority — the
    * correlated EXISTS whose decorrelation is a LEFT SEMI join with a
    * non-equi residual (the lateness compare references BOTH sides:
    * `l_shipdate > o_orderdate + 30 days`). Semi joins never duplicate
    * the probe side, so the count is per-order however many late lines
    * exist — the property a plain inner join + distinct would need an
    * extra shuffle to recover. Oracle keeps the EXISTS form.
    *
    * Scale shape: the quarter predicate pushes into the orders scan;
    * one shuffle pair on the order key; the residual evaluates inside
    * the join. At 100 TB the semi join's build side is the filtered
    * quarter — AQE broadcasts it when it fits.
    */
  val j34_order_priority_check: Q = (spark, dir) => {
    val o = orders(spark, dir)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val li = lineitem(spark, dir)
    o.join(li, o("o_orderkey") === li("l_orderkey") &&
        li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"),
      "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** j35 — NOT-IN THREE-VALUED-LOGIC BATTERY: `NOT IN (subquery)` is
    * the SQL construct engines most famously mis-rewrite — one NULL in
    * the subquery makes EVERY row's predicate UNKNOWN, so the result
    * is EMPTY, not "everything except the non-null matches". Three
    * labeled legs pin the algebra cross-engine: `no_null` (null-free
    * subquery — Spark plans a null-aware anti join that degrades to a
    * plain anti), `with_null` (one planted NULL via `nullif` on a key
    * KNOWN to be in the subquery — must yield ZERO rows on both
    * engines; Spark's NAAJ must detect the null build row), and
    * `in_with_null` (IN over the same nulled subquery — found keys
    * stay TRUE, absent keys fall from FALSE to UNKNOWN, both filtered:
    * IN is null-robust exactly where NOT IN is not). No DataFrame API
    * spells NOT IN (isin takes literals), so this is deliberate
    * spark.sql over per-query temp views.
    */
  val j35_not_in_nulls: Q = (spark, dir) => {
    customer(spark, dir).createOrReplaceTempView("j35_customer")
    orders(spark, dir).createOrReplaceTempView("j35_orders")
    spark.sql(
      """SELECT 'no_null' AS leg, c_custkey FROM j35_customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM j35_orders
                                 WHERE o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT 'with_null', c_custkey FROM j35_customer
         WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7)
                                 FROM j35_orders
                                 WHERE o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT 'in_with_null', c_custkey FROM j35_customer
         WHERE c_custkey IN (SELECT nullif(o_custkey, 7) FROM j35_orders
                             WHERE o_orderpriority = '1-URGENT')""")
  }

  /** a55 — INTER-ORDER SURVIVAL CURVE (discrete churn analytics): the
    * distribution of gaps between a customer's consecutive orders,
    * expressed as the EMPIRICAL survival and hazard functions over
    * whole-day gap buckets — "of customers who hadn't reordered by
    * day g, how many reordered exactly then" — the re-engagement
    * curve a retention team reads before defining a churn cutoff.
    * Everything stays integer-exact: gaps are whole days (timestamp
    * difference of day-granular dates), at-risk counts are SUFFIX
    * sums over the gap-day domain (a descending-cumulative window on
    * a domain-bounded relation — the value-compressed-CDF
    * discipline), and survival/hazard surface as floored per-milles;
    * no product chain, no float (the empirical S(g) = at_risk(g+…)/N
    * form needs no Kaplan-Meier product because there is no
    * censoring in a closed fixture).
    *
    * Scale shape: one window on o_custkey (per-customer lag), one
    * groupBy on gap days (domain ≤ |calendar|), one window over that
    * bounded domain. Fact-sized work is the lag pass only.
    */
  val a55_survival_curve: Q = (spark, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders(spark, dir)
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(datediff(to_date(col("o_orderdate")), to_date(col("prev")))
        .cast("long").as("gap_days"))
    val hist = gaps.groupBy(col("gap_days")).agg(count(lit(1)).as("n_gaps"))
    val dw = Window.orderBy(col("gap_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_at_risk", sum(col("n_gaps")).over(dw))
      .join(broadcast(gaps.agg(count(lit(1)).as("n_total"))), lit(true))
      .select(col("gap_days"), col("n_gaps"), col("n_at_risk"),
        expr("n_gaps * 1000 div n_at_risk").as("hazard_pm"),
        expr("(n_at_risk - n_gaps) * 1000 div n_total").as("survival_pm"))
  }

  /** j36 — CHEAPEST SUPPLIER PER PART (TPC-H Q2 shape): for each
    * small part, the supplier offering the minimum observed price,
    * then the dim join-back for display — the correlated
    * SCALAR-EQUALITY subquery (`cost = (SELECT MIN(cost) WHERE same
    * part)`), the last member of the TPC-H correlation taxonomy
    * (j29 avg-gate, j31/a53 global scalars, j33/j34 quantifiers, j32
    * lateral). De-correlated as a part-partitioned window min over
    * the offers relation — SINGLE PASS (the j29/j33 audit lesson
    * applied from the start: no aggregate+join-back double scan) —
    * with ties broken by MIN(suppkey) so the pick is deterministic.
    * Costs ride integer cents; the only division is the final /100
    * display step, one IEEE op on both engines.
    *
    * Scale shape: the p_size predicate pushes into the part scan and
    * prunes offers at the join; one exchange on l_partkey for the
    * window; the supplier/nation joins ride the picked (one row per
    * part) relation — dim-sized. |
    */
  val j36_cheapest_supplier: Q = (spark, dir) => {
    val offers = lineitem(spark, dir)
      .join(part(spark, dir).where(col("p_size") <= 5),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        graft.Tables.cents(col("l_extendedprice")).cast("long")
          .as("cost_cents"))
    val w = Window.partitionBy(col("l_partkey"))
    val best = offers
      .withColumn("min_cents", min(col("cost_cents")).over(w))
      .where(col("cost_cents") === col("min_cents"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(min(col("l_suppkey")).as("best_suppkey"),
        (min(col("min_cents")) / 100).as("best_cost"))
    best.join(supplier(spark, dir),
        col("best_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("best_suppkey"), col("s_name"),
        col("n_name"), col("best_cost"))
  }

  // --------------------------------------------------------------------
  // j37–j47 — TPC-H completion (r14): every remaining classic query
  // shape the schema can express, closing the family j28–j36 opened.
  // Q9/Q12 need partsupp/shipmode columns the fixture lacks; Q20 is
  // re-based on lineitem-as-supply-evidence (noted per query).
  // --------------------------------------------------------------------

  /** j37 — PRICING SUMMARY (TPC-H Q1): the canonical full-scan
    * aggregate battery — per (returnflag, linestatus), quantity /
    * price / discounted / discounted+taxed sums plus three averages
    * and the row count. All money lanes ride EXACT integer
    * arithmetic: cents = round(x·100) once per factor, then
    * `e100·(100−d100)` (10⁻⁴ dollars) and `e100·(100−d100)·(100+t100)`
    * (10⁻⁶ dollars) are integer products, summed as decimal(38,0)
    * (the a48 ANSI-overflow discipline — at SF1000 these sums pass
    * 2^63) and emitted as integer CENTS via `div` — NOT via a
    * decimal→double division, whose rounding could diverge from
    * DuckDB's HUGEINT→double path past 2^53. The averages are exact
    * integer sums through identical division chains on both engines
    * (the f07 one-IEEE-op discipline).
    *
    * Scale shape: one fact scan, map-side partial aggregation into 6
    * groups; the shipdate predicate pushes to the parquet scan.
    */
  val j37_pricing_summary: Q = (spark, dir) => {
    val e100 = cents(col("l_extendedprice")).cast("long")
    val d100 = round(col("l_discount") * 100).cast("long")
    val t100 = round(col("l_tax") * 100).cast("long")
    lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity"), e100.as("e100"), d100.as("d100"),
        (e100 * (lit(100L) - d100)).cast("decimal(38,0)").as("disc4"),
        (e100 * (lit(100L) - d100) * (lit(100L) + t100))
          .cast("decimal(38,0)").as("charge6"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
        (sum(col("e100")) / 100).as("sum_base_price"),
        sum(col("disc4")).as("disc_sum"),
        sum(col("charge6")).as("charge_sum"),
        sum(col("e100")).as("se100"),
        sum(col("d100")).as("sd100"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"),
        expr("cast(disc_sum div 100 as bigint)").as("disc_price_cents"),
        expr("cast(charge_sum div 10000 as bigint)").as("charge_cents"),
        (col("sum_qty").cast("double") / col("count_order")).as("avg_qty"),
        ((col("se100").cast("double") / col("count_order")) / 100)
          .as("avg_price"),
        ((col("sd100").cast("double") / col("count_order")) / 100)
          .as("avg_disc"),
        col("count_order"))
  }

  /** j38 — SHIPPING-PRIORITY TOP ORDERS (TPC-H Q3): the ten
    * highest-revenue orders from one market segment, ordered before a
    * cutoff but (partly) shipped after it — the classic
    * filter-join-agg-topk pipeline. The top-k rides revenue CENTS
    * with the orderkey as an explicit tie-break, so the picked SET is
    * deterministic cross-engine (the a05 discipline); Spark plans the
    * sort+limit as TakeOrderedAndProject (no global sort).
    *
    * Scale shape: both date predicates and the segment predicate push
    * into their scans; the fact shuffles once per join arm (AQE may
    * broadcast the filtered orders arm); top-k is per-partition heads
    * merged on the driver — no full sort at any SF.
    */
  val j38_shipping_priority: Q = (spark, dir) => {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val c = customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
    val o = orders(spark, dir).where(col("o_orderdate") < cutoff)
    val li = lineitem(spark, dir).where(col("l_shipdate") > cutoff)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("long")).as("rev_cents"))
      .orderBy(col("rev_cents").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey").as("order_id"),
        (col("rev_cents") / 100).as("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_dt"))
  }

  /** j39 — FORECAST REVENUE CHANGE (TPC-H Q6): what additional
    * revenue would have accrued had small-quantity discounts in a
    * window been revoked — one predicate-heavy scan into ONE row.
    * The discount band is matched on round(d·100) ∈ {5,6,7} (exact
    * integer — a float BETWEEN on the raw double would be
    * representation-dependent); forfeited revenue is the integer
    * product e100·d100 (10⁻⁴ dollars), summed exactly.
    *
    * Scale shape: all three predicates push to the parquet scan
    * (shipdate via min/max stats prunes whole row groups); the
    * aggregate is a map-side partial into a single group.
    */
  val j39_forecast_revenue: Q = (spark, dir) => {
    val e100 = cents(col("l_extendedprice")).cast("long")
    val d100 = round(col("l_discount") * 100).cast("long")
    lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_quantity") < 24)
      .select(e100.as("e100"), d100.as("d100"))
      .where(col("d100").between(5, 7))
      .agg(expr("cast(sum(e100 * d100) div 100 as bigint)")
        .as("forfeit_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** j40 — VOLUME SHIPPING BETWEEN TWO NATIONS (TPC-H Q7): revenue
    * shipped between a nation pair in BOTH directions, per direction
    * and ship year — the two-sided dim correlation (supplier nation ×
    * customer nation) that meets only through the fact row. The pair
    * predicate is applied post-join as the symmetric disjunction,
    * exactly as the standard writes it.
    *
    * Scale shape: the fact joins supplier and the orders→customer arm
    * (each one shuffle, AQE-broadcastable); nation is broadcast
    * twice under two aliases. The nation-pair filter cuts the result
    * to 4 groups; the year comes from the pushed-down shipdate band.
    */
  val j40_volume_shipping: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val n1 = nation(spark, dir)
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = nation(spark, dir)
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    li.join(supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .where((col("supp_nation") === "NATION_1" &&
        col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** j41 — NATIONAL MARKET SHARE (TPC-H Q8): within one region's
    * customers and one part type, the share of yearly revenue
    * supplied by one nation — the CASE-sum-over-sum share shape,
    * emitted as exact per-mille (`1000·nat div tot`) instead of a
    * float ratio (the a44 integer-share discipline).
    *
    * Scale shape: part-type and region predicates prune their dim
    * scans before the fact joins; supplier-nation attribution rides a
    * broadcast nation; 7 year-groups roll up with map-side partials.
    */
  val j41_market_share: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val rc = customer(spark, dir)
      .join(broadcast(nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name") === "ASIA")
      .select(col("c_custkey"))
    val sn = supplier(spark, dir)
      .join(broadcast(nation(spark, dir)
        .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .select(col("s_suppkey"), col("supp_nation"))
    li.join(part(spark, dir).where(col("p_type") === "ECONOMY"),
        col("l_partkey") === col("p_partkey"))
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(rc, col("o_custkey") === col("c_custkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .select(year(col("o_orderdate")).cast("long").as("o_year"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("long").as("rev_cents"),
        col("supp_nation"))
      .groupBy(col("o_year"))
      .agg(sum(col("rev_cents")).as("total_cents"),
        sum(when(col("supp_nation") === "NATION_5", col("rev_cents"))
          .otherwise(0L)).as("nation_cents"))
      .select(col("o_year"),
        (col("total_cents") / 100).as("total_rev"),
        (col("nation_cents") / 100).as("nation_rev"),
        expr("nation_cents * 1000 div total_cents").as("share_pm"))
  }

  /** j42 — RETURNED-ITEM REPORTING (TPC-H Q10): the 20 customers who
    * returned the most revenue in a quarter — lost-revenue triage.
    * Top-k on revenue CENTS with custkey tie-break (deterministic
    * set); the nation join-back rides the 20-row picked relation.
    *
    * Scale shape: the returnflag and quarter predicates push to their
    * scans; one custkey rollup; TakeOrderedAndProject for the top-20;
    * dims join AFTER the pick — 20 rows, not fact-sized.
    */
  val j42_returned_items: Q = (spark, dir) => {
    val o = orders(spark, dir)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
    val li = lineitem(spark, dir).where(col("l_returnflag") === "R")
    val picked = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("long")).as("rev_cents"))
      .orderBy(col("rev_cents").desc, col("o_custkey"))
      .limit(20)
    picked.join(customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        (col("rev_cents") / 100).as("returned_rev"), col("n_name"))
  }

  /** j43 — PROMOTION EFFECT (TPC-H Q14): per month, the share of
    * revenue from PROMO-type parts, as exact per-mille of integer
    * cents — the monthly promotional-lift report. (The fixture's
    * p_type is the single word the standard prefixes with 'PROMO',
    * so the match is equality, not LIKE.)
    *
    * Scale shape: the year predicate pushes to the fact scan; one
    * broadcast-able part join (type column pruned to 2 columns); 12
    * month-groups with map-side CASE partials.
    */
  val j43_promo_effect: Q = (spark, dir) => promoShareOf(
    lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(part(spark, dir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .select(month(col("l_shipdate")).cast("long").as("m"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("long").as("rev_cents"),
        (col("p_type") === "PROMO").as("is_promo"))
      .groupBy(col("m"))
      .agg(sum(when(col("is_promo"), col("rev_cents")).otherwise(0L))
        .as("promo_cents"),
        sum(col("rev_cents")).as("total_cents")))

  /** j43's per-mille division over the monthly (promo, total) cents
    * sums — st104 runs it on read.
    */
  private[graft] def promoShareOf(months: DataFrame): DataFrame =
    months.select(col("m"), (col("promo_cents") / 100).as("promo_rev"),
      (col("total_cents") / 100).as("total_rev"),
      expr("promo_cents * 1000 div total_cents").as("promo_pm"))

  /** j44 — TOP SUPPLIER (TPC-H Q15): the supplier(s) with maximum
    * revenue in a quarter. The standard phrases it as a VIEW plus a
    * scalar `= (SELECT MAX(...))` subquery; the Spark-first
    * de-correlation aggregates ONCE to supplier grain, broadcasts the
    * 1-row max back onto that (dim-sized) relation, and keeps every
    * tied supplier — the oracle retains the view+scalar-subquery form
    * verbatim, so the differential proves the rewrite. Revenue
    * compares in integer CENTS (a float max boundary could split
    * ties differently per engine).
    *
    * Scale shape: ONE fact scan into a supplier-grain rollup; the max
    * join-back touches only that rollup (|suppliers| rows), never the
    * fact. No unpartitioned window — suppliers scale with SF (the
    * w-family bound honored by the broadcast-max shape instead).
    */
  val j44_top_supplier: Q = (spark, dir) =>
    // supplier-grain rollup lineage-cut: both the 1-row MAX leg and
    // the equality join read it, and without the cut each re-derives
    // it from its own fact scan (the scan audit measured 2)
    topSupplierOf(quarterRevOf(lineitem(spark, dir)).localCheckpoint(false),
      supplier(spark, dir))

  /** j44's per-supplier quarter revenue — st102 upserts it from its
    * lineitem stream.
    */
  private[graft] def quarterRevOf(li: DataFrame): DataFrame =
    li.where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("long")).as("rev_cents"))

  /** j44's broadcast-MAX join-back and supplier lookup over the
    * supplier grain — st102 runs it on read.
    */
  private[graft] def topSupplierOf(revs: DataFrame, s: DataFrame): DataFrame =
    revs.join(broadcast(revs.agg(max(col("rev_cents")).as("max_cents"))),
        col("rev_cents") === col("max_cents"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_suppkey").as("s_suppkey"), col("s_name"),
        (col("rev_cents") / 100).as("total_revenue"))

  /** j45 — LARGE-VOLUME CUSTOMERS (TPC-H Q18): orders whose total
    * quantity exceeds a threshold, with their customers — the
    * `IN (GROUP BY … HAVING)` membership test. De-correlated as the
    * aggregate-then-inner-join (the HAVING relation IS the join
    * input, so no semi-join re-scan); the oracle keeps the quantifier
    * form verbatim. Quantities are integral doubles — the sum and
    * threshold compare exactly on both engines.
    *
    * Scale shape: one orderkey rollup of the fact (map-side partials
    * collapse the ~4 lines/order early); the surviving-order relation
    * is tiny and AQE broadcasts it into the orders join; customer
    * joins after, at surviving-order grain.
    */
  val j45_large_volume: Q = (spark, dir) =>
    largeVolumeOf(orderQtyOf(lineitem(spark, dir)),
      orders(spark, dir), customer(spark, dir))

  /** j45's per-order quantity sum — st103 upserts it from its
    * lineitem stream.
    */
  private[graft] def orderQtyOf(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))

  /** j45's threshold and dim joins over the per-order sums — st103
    * runs them on read.
    */
  private[graft] def largeVolumeOf(sums: DataFrame, o: DataFrame,
                                   c: DataFrame): DataFrame =
    sums.where(col("sum_qty") > 300)
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_dt"),
        (cents(col("o_totalprice")).cast("long") / 100).as("total_price"),
        col("sum_qty"))

  /** j46 — DISJUNCTIVE-PREDICATE REVENUE (TPC-H Q19): revenue from
    * three OR-ed (brand, size-band, quantity-band) branches over the
    * part join — the classic disjunction Catalyst cannot factor by
    * itself: no single conjunct spans all branches, so nothing pushes
    * down unaided. The HOISTED IMPLIED PREDICATES (brand ∈ {3
    * brands}, size ≤ 15, qty ≤ 30 — each the union of its branch
    * bands) are therefore stated explicitly on each side BEFORE the
    * join; they prune both scans while the exact disjunction filters
    * post-join. Emits one row per branch (labeled CASE) rather than
    * the standard's single row, so the differential pins each
    * branch's membership, not just the grand total.
    *
    * Scale shape: with the hoisted predicates the part side shrinks
    * to the 3-brand slice (broadcast-able) and the fact scan drops
    * every row with qty > 30 at the scan; the OR evaluates on the
    * joined slice only.
    */
  val j46_disjunctive_revenue: Q = (spark, dir) => {
    val b1 = col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
      col("l_quantity").between(1, 11)
    val b2 = col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
      col("l_quantity").between(10, 20)
    val b3 = col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
      col("l_quantity").between(20, 30)
    val p = part(spark, dir)
      .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3") &&
        col("p_size").between(1, 15))
    lineitem(spark, dir)
      .where(col("l_quantity").between(1, 30))
      .join(p, col("l_partkey") === col("p_partkey"))
      .where(b1 || b2 || b3)
      .select(when(b1, 1L).when(b2, 2L).otherwise(3L).as("branch"),
        cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("long").as("rev_cents"))
      .groupBy(col("branch"))
      .agg((sum(col("rev_cents")) / 100).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** j47 — DOMINANT SUPPLIERS OF A PART FAMILY (TPC-H Q20 shape,
    * re-based): suppliers who shipped MORE THAN HALF of a part's
    * total shipped quantity in a year, over the 'red …' part family —
    * the standard's partsupp availability test re-grounded in
    * lineitem as supply evidence (the fixture has no partsupp table).
    * The correlated comparison ("my quantity vs MY part's total") is
    * de-correlated as a part-partitioned window sum over the
    * (part, supplier) rollup — the j29/j36 single-pass discipline;
    * the oracle keeps the correlated scalar subquery verbatim.
    * Dominance compares `2·supp_qty > part_total` in integers — no
    * 0.5 float factor.
    *
    * Scale shape: the name-prefix predicate prunes part before the
    * fact join; one (part, supplier) rollup, one partkey window over
    * part-bounded groups, then dim joins at surviving-supplier grain.
    */
  val j47_dominant_supplier: Q = (spark, dir) => {
    val ps = lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(part(spark, dir).where(col("p_name").startsWith("red ")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
    val w = Window.partitionBy(col("l_partkey"))
    ps.withColumn("part_total", sum(col("q")).over(w))
      .where(col("q") * 2 > col("part_total"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dom"))
      .join(supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_suppkey").as("s_suppkey"), col("s_name"),
        col("n_name"), col("n_dom"))
  }

  /** j48 — PRODUCT-TYPE PROFIT (TPC-H Q9 shape): profit per supplier
    * nation per order year over one part family. The fixture has no
    * partsupp, so supply cost is proxied by the part's retail price
    * (`p_retailprice × l_quantity`) — the Q9 SHAPE is the five-table
    * star with an expression aggregate mixing two money sources, and
    * that survives the proxy. All lanes integer-exact: revenue in the
    * 10⁻⁴-dollar lane (e100·(100−d100)), cost lifted into the same
    * lane (r100·qty·100), the difference summed as decimal(38,0) (the
    * a48 overflow discipline — profits are fact-sized sums of ~10⁹
    * terms) and floored to cents only on read.
    *
    * Scale shape: the p_name prefix predicate pushes to the part scan
    * and shrinks it broadcast-able; orders joins on the fact's key;
    * the nation join-back is dim-sized. One fact scan, one shuffle to
    * the (nation, year) grain — 175 groups.
    */
  val j48_product_profit: Q = (spark, dir) => {
    val e100 = cents(col("l_extendedprice")).cast("long")
    val d100 = round(col("l_discount") * 100).cast("long")
    val r100 = cents(col("p_retailprice")).cast("long")
    lineitem(spark, dir)
      .join(part(spark, dir).where(col("p_name").startsWith("blue "))
        .select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        (e100 * (lit(100L) - d100) -
          r100 * col("l_quantity").cast("long") * lit(100L))
          .cast("decimal(38,0)").as("profit4"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(sum(col("profit4")).as("profit4"))
      .select(col("n_name"), col("o_year"),
        expr("cast(profit4 div 10000 as bigint)").as("profit"))
  }

  /** j49 — SHIPPING-PRIORITY CLASSIFICATION (TPC-H Q12 shape): per
    * lateness bucket, how many lines belong to critical-priority
    * orders vs the rest. The fixture has no l_shipmode/commitdate/
    * receiptdate, so the grouping dimension is DERIVED lateness
    * (shipped >45 days after order) — Q12's essence, the two
    * conditional CASE-counts over a priority predicate, is verbatim.
    *
    * Scale shape: the ship-year predicate pushes to the fact scan;
    * the orders join carries only (key, date, priority); two groups
    * with map-side CASE partials — the aggregate output is 2 rows no
    * matter the SF.
    */
  val j49_ship_priority_class: Q = (spark, dir) => {
    lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"),
          "LATE").otherwise("ONTIME").as("lateness"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH").as("is_high"))
      .groupBy(col("lateness"))
      .agg(sum(when(col("is_high"), 1L).otherwise(0L)).as("high_lines"),
        sum(when(!col("is_high"), 1L).otherwise(0L)).as("low_lines"))
  }

  /** j50 — Q15 IN ITS NATIVE SQL FORM (the CATALYST-decorrelated
    * scalar subquery, the deliberate counterpart to [[j44_top_supplier]]'s
    * MANUAL broadcast-max rewrite): the user-facing SQL a warehouse
    * migration actually ships — a view-shaped CTE plus
    * `WHERE rev = (SELECT MAX(rev) …)` — handed to `spark.sql`
    * untouched, so the plan lock pins what Catalyst's
    * RewriteCorrelatedScalarSubquery does with it (an aggregate-
    * then-join under the hood) and the differential proves BOTH
    * paths land on j44's answer. Together with j32's native LATERAL
    * and j35's native NOT IN, this closes the "does the engine run
    * the SQL users write, not just the rewrites its author prefers"
    * column of the correlated family.
    *
    * Scale shape: Catalyst's own decorrelation — the revenue CTE is
    * aggregated once per reference (two scans of the quarter slice;
    * j44's docstring prices the manually-shared alternative), the
    * 1-row MAX broadcast-joins back. Fact predicates push to both
    * scans.
    */
  val j50_native_scalar_subquery: Q = (spark, dir) => {
    lineitem(spark, dir).createOrReplaceTempView("j50_lineitem")
    supplier(spark, dir).createOrReplaceTempView("j50_supplier")
    spark.sql(
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(SUM(ROUND(l_extendedprice * (1 - l_discount) * 100))
                    AS BIGINT) AS rev_cents
           FROM j50_lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, rev_cents / 100 AS total_revenue
         FROM j50_supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE rev_cents = (SELECT MAX(rev_cents) FROM revenue)""")
  }

  /** j51 — Q18 IN ITS NATIVE SQL FORM (the last quantifier kind of
    * the manual-vs-native column): the membership test
    * `o_orderkey IN (SELECT … GROUP BY … HAVING SUM(qty) > 300)` AND
    * a correlated scalar readback of the same sum, both handed to
    * `spark.sql` untouched — Catalyst plans the IN as a left-semi
    * over the HAVING aggregate (RewritePredicateSubquery) and the
    * scalar as an aggregate-join (RewriteCorrelatedScalarSubquery),
    * where [[j45_large_volume]] fuses both by hand into ONE rollup
    * that is simultaneously the filter and the readback. The plan
    * lock pins Catalyst's two-subquery plan; the differential proves
    * it equals j45's fused one. The honest cost note: the native form
    * aggregates lineitem TWICE (once per subquery — Catalyst does not
    * share them), which is exactly why j45's manual fusion exists.
    */
  val j51_native_in_having: Q = (spark, dir) => {
    lineitem(spark, dir).createOrReplaceTempView("j51_lineitem")
    orders(spark, dir).createOrReplaceTempView("j51_orders")
    customer(spark, dir).createOrReplaceTempView("j51_customer")
    spark.sql(
      """SELECT c_custkey, c_name, o_orderkey,
                date_format(o_orderdate, 'yyyy-MM-dd') AS order_dt,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100
                  AS total_price,
                (SELECT CAST(SUM(l_quantity) AS BIGINT) FROM j51_lineitem
                 WHERE l_orderkey = o_orderkey) AS sum_qty
         FROM j51_customer JOIN j51_orders ON c_custkey = o_custkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM j51_lineitem
                              GROUP BY 1 HAVING SUM(l_quantity) > 300)""")
  }

  /** J3 — existence anti-lookup (first-order flag,
    * dwd/Ods_to_DWD_order_info.scala:83-104): left-anti join — keys
    * with no match in the accumulated state table. The state table is
    * a *selective subset* (orders with status 'F') so the result is
    * non-empty and the check exercises real surviving rows: customers
    * who never placed a completed order.
    */
  val j03_anti_join: Q = (spark, dir) => {
    val c = customer(spark, dir)
    val o = orders(spark, dir).where(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** J4 — dual-stream equi-join, batch twin (dws/OrderWiderApp.scala:119-128):
    * orders⋈lineitem inner on order key. At scale both sides shuffle on
    * the join key once; with AQE a skewed key is split automatically.
    */
  val j04_order_wide_join: Q = (spark, dir) => {
    val oi = orders(spark, dir)
    val od = lineitem(spark, dir)
    od.join(oi, od("l_orderkey") === oi("o_orderkey"))
      .select(
        od("l_orderkey").as("order_id"),
        od("l_linenumber").as("order_detail_id"),
        od("l_extendedprice").as("sku_total"),
        oi("o_totalprice").as("final_total_amount"),
        oi("o_custkey").as("user_id"))
  }

  /** J5 — join-result dedup (Redis sadd first-wins,
    * dws/OrderWiderApp.scala:129-147). Deterministic first-wins: keep
    * the min-linenumber row per (orderkey, partkey) via row_number —
    * *not* dropDuplicates, whose survivor is partition-order dependent.
    */
  val j05_join_dedup: Q = (spark, dir) => {
    val w = Window.partitionBy(col("l_orderkey"), col("l_partkey"))
      .orderBy(col("l_linenumber"))
    lineitem(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
  }

  /** J6 — full outer dual-stream join with unmatched-side completion
    * (dws/OrderWiderApp.scala:63-115, the commented Redis-cache
    * variant): order headers ⋈ aggregated returned-lines, FULL OUTER so
    * both unmatched sides survive — headers with no returned lines keep
    * NULL metrics, returned lines whose header is filtered out surface
    * with NULL order fields (the reference caches these in Redis
    * awaiting completion; Spark's outer join emits them directly).
    * `coalesce` supplies the completion defaults. Both sides shuffle
    * once on the join key; survives 100× (no broadcast of either side).
    */
  val j06_outer_join: Q = (spark, dir) => {
    val o = orders(spark, dir).where(col("o_orderstatus") === "O")
    val l = lineitem(spark, dir)
      .where(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_returned"),
        moneySum(col("l_extendedprice")).as("returned_amt"))
    o.join(l, o("o_orderkey") === l("l_orderkey"), "full_outer")
      .select(
        coalesce(o("o_orderkey"), l("l_orderkey")).as("order_id"),
        o("o_custkey").as("user_id"),
        o("o_totalprice").as("final_total_amount"),
        coalesce(col("n_returned"), lit(0L)).as("n_returned"),
        coalesce(col("returned_amt"), lit(0.0)).as("returned_amt"),
        when(o("o_orderkey").isNull, "detail_only")
          .when(l("l_orderkey").isNull, "order_only")
          .otherwise("matched").as("join_state"))
  }

  /** J7/W2 — within-group ordering + first-position flag
    * (dwd/Ods_to_DWD_order_info.scala:106-127: sort a user's orders by
    * create_time, only the earliest keeps if_first_order=1).
    */
  val j07_first_order_flag: Q = (spark, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .select(
        col("o_orderkey"), col("o_custkey"),
        when(col("rn") === 1, "1").otherwise("0").as("if_first_order"))
  }

  /** J8 — AS-OF join: for every event, the user's most recent order at
    * or before the event time (the temporal-enrichment operator ANN/
    * feature pipelines use for point-in-time-correct lookups; Spark has
    * no native ASOF JOIN — DuckDB's is the oracle).
    *
    * Spark-first shape: the naive formulation (equi-join on user +
    * range filter + argmax) explodes to |events per user| ×
    * |orders per user| join rows; instead both relations union into
    * one stream tagged by kind, and a running `last(order, ignoreNulls)`
    * window fills each event row with the latest preceding order — ONE
    * shuffle on the user key, one sort, output linear in the input.
    * Orders are pre-deduped to one per (user, date) with a max-key
    * tiebreak so both engines resolve equal-date ties identically; at
    * an equal timestamp the order sorts before the event (`is_event`
    * ascending), matching ASOF's `>=` inclusivity.
    */
  val j08_asof_join: Q = (spark, dir) => {
    val o = orders(spark, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("ord_key"))
      .select(col("o_custkey").as("uid"),
        col("o_orderdate").cast("timestamp").as("t"),
        lit(0).as("is_event"), lit(null).cast("long").as("event_id"),
        col("ord_key"))
    val e = events(spark, dir)
      .select(col("user_id").as("uid"), col("ts").as("t"),
        lit(1).as("is_event"), col("event_id"),
        lit(null).cast("long").as("ord_key"))
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("t"), col("is_event"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.unionAll(e)
      .withColumn("last_order_key", last(col("ord_key"), ignoreNulls = true).over(w))
      .where(col("is_event") === 1)
      .select(col("event_id"), col("uid").as("user_id"), col("last_order_key"))
  }

  private val JoinSalts = 8

  /** J9 — salted skew join: the shuffle-join analog of a06's salted
    * aggregation. A hot join key (one user with millions of events)
    * lands an entire partition on one task; salting splits it: the
    * probe side gets a deterministic salt from its row id, the build
    * side replicates once per salt (explode over a sequence — build
    * side is the smaller per-key aggregate, so the ×S replication is
    * bounded), and the join runs on (key, salt) — S tasks share the
    * hot key. The result is provably identical to the unsalted join
    * (the oracle IS the plain join); AQE skew splitting is the
    * automatic alternative, salting is the portable/manual one.
    */
  val j09_salted_join: Q = (spark, dir) => {
    val e = events(spark, dir).select(col("event_id"), col("user_id"),
      pmod(col("event_id"), lit(JoinSalts)).as("salt"))
    val o = orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .select(col("o_custkey"), col("n_orders"),
        explode(sequence(lit(0), lit(JoinSalts - 1))).as("salt"))
    e.join(o, col("user_id") === col("o_custkey") && e("salt") === o("salt"))
      .select(col("event_id"), col("user_id"), col("n_orders"))
  }

  private val Campaigns = 10

  /** J10 — range/interval join at scale: assign each event to every
    * campaign whose [start, end) period contains it. A pure range
    * predicate gives Spark NO equi-key, so the plan degenerates to
    * BroadcastNestedLoopJoin (O(n·m) comparisons — catastrophic once
    * the interval side grows). The scale-safe decomposition: explode
    * each interval into its covered DAY BUCKETS (bounded: length/1d
    * rows per interval), equi-join events on their day bucket, and
    * keep the exact range predicate as a residual filter — a plain
    * shuffle hash join on the day key, linear in events, correct for
    * arbitrary (non-aligned, overlapping) intervals. The oracle is
    * the naive theta join, proving the decomposition computes the
    * identical relation. (The campaign table is generated
    * deterministically on both engines — 10 overlapping 7-day periods
    * covering the events' month.)
    */
  /** The deterministic campaign table's day-bucket decomposition
    * (j10's interval→equi-key trick), shared with the ingest twin
    * st33 so both engines and both modes join the identical relation.
    */
  private[graft] def campaignBuckets(spark: SparkSession): DataFrame = {
    val base = lit("2024-01-01").cast("date")
    val camps = spark.range(Campaigns).select(
      col("id").as("campaign_id"),
      date_add(base, (col("id") * 3).cast("int")).cast("timestamp").as("cstart"),
      date_add(base, (col("id") * 3 + 7).cast("int")).cast("timestamp").as("cend"))
    camps.select(col("campaign_id"), col("cstart"), col("cend"),
      explode(sequence(col("cstart").cast("date"),
        date_sub(col("cend").cast("date"), 1))).as("day"))
  }

  val j10_range_join: Q = (spark, dir) => {
    val buckets = campaignBuckets(spark)
    val ev = events(spark, dir)
      .select(col("event_id"), col("ts"), to_date(col("ts")).as("day"))
    ev.join(buckets, Seq("day"))
      .where(col("ts") >= col("cstart") && col("ts") < col("cend"))
      .select(col("event_id"), col("campaign_id"))
  }

  /** One JSON-lines copy of the documents table per sfDir (scratch,
    * GC'd at JVM exit) — the fixture for the non-parquet source path.
    */
  private val jsonCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def jsonCopy(spark: SparkSession, dir: String): String =
    jsonCache.computeIfAbsent(dir, _ => {
      val p = graft.Tables.scratchDir("graft_json_")
      documents(spark, dir).write.mode("overwrite").json(p)
      p
    })

  /** S10 — JSON-lines source with a PINNED schema: the non-parquet
    * ingest path (the reference consumes JSON payloads off its bus —
    * fastjson in every app; here the same data read as a splittable
    * JSON-lines file source). The schema is declared, never inferred:
    * at 100 TB schema inference is a full extra pass over the data
    * before the real one, and a schema drifting under inference is a
    * silent correctness bug — production JSON ingest pins the schema
    * and lets corrupt rows surface (columnNameOfCorruptRecord) rather
    * than re-shape the table. Declaring only the consumed fields also
    * prunes the parse itself: the reader skips tokens outside the
    * schema, the JSON analog of parquet column pruning. JSON-lines is
    * line-splittable, so scan parallelism survives arbitrary file
    * sizes. Oracle is the same projection over the parquet twin —
    * format changes encoding, never values.
    */
  val s10_json_source: Q = (spark, dir) => {
    val p = jsonCopy(spark, dir)
    spark.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .json(p)
      .where(col("n_chars") >= 400)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  private val csvCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def csvCopy(spark: SparkSession, dir: String): String =
    csvCache.computeIfAbsent(dir, _ => {
      val p = graft.Tables.scratchDir("graft_csv_")
      documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .csv(p)
      p
    })

  /** S12 — CSV source with a PINNED schema and full quoting: the
    * delimited-text ingest path completing the source-format matrix
    * (parquet = the tables, JSON-lines = s10, CSV = this). Same
    * discipline as s10 — schema declared, never inferred (inference
    * is an extra full pass AND type-guesses drift) — plus the
    * CSV-specific trap the writer settles: free text containing
    * delimiters/newlines is only round-trippable under QUOTING
    * (`quoteAll` on write; the reader's default quote handling parses
    * it back), and a quoted field spanning newlines breaks naive
    * line-splitting — which is why production lands CSV to a
    * splittable columnar format at the door (this reader IS that
    * door). `text` rides the round trip and the length re-check
    * proves it: the oracle recomputes n_chars-consistency from the
    * parquet twin, so a mis-parsed row (shifted columns, truncated
    * quotes) cannot hash-match. Format changes encoding, never
    * values.
    */
  val s12_csv_source: Q = (spark, dir) => {
    val p = csvCopy(spark, dir)
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("header", "true")
      .csv(p)
      .where(col("n_chars") >= 400)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).cast("long").as("text_len"))
  }

  private val orcCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def orcCopy(spark: SparkSession, dir: String): String =
    orcCache.computeIfAbsent(dir, _ => {
      val p = graft.Tables.scratchDir("graft_orc_")
      documents(spark, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .write.mode("overwrite").orc(p)
      p
    })

  /** s15 — ORC source: the OTHER splittable columnar format
    * (completing the source matrix: parquet = the tables, JSON-lines
    * = s10, quoted CSV = s12, ORC = this) — the format a Hive-era
    * warehouse hands an ingest pipeline. Same pinned-schema
    * discipline as s10/s12, and the same text-length re-derivation:
    * ORC round-trips types natively (no quoting layer), so what this
    * proves is the reader's predicate/projection path — `.explain`
    * shows the n_chars filter PUSHED into the ORC scan (ORC carries
    * stripe-level min/max, so the pushdown prunes stripes at scale
    * exactly like parquet row groups) and a 5-column ReadSchema, not
    * the full table.
    */
  val s15_orc_source: Q = (spark, dir) => {
    val p = orcCopy(spark, dir)
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .orc(p)
      .where(col("n_chars") >= 400)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        length(col("text")).cast("long").as("text_len"))
  }

  private val binObjCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** One-object-per-file scratch export for [[s16_binaryfile_source]]:
    * every mod-10 ≡ 7 document's synthesized BMP payload written as
    * `doc_<id>.bin` through [[graft.sinks.Sinks.binaryObjects]] (the
    * executor-side object sink — no driver collect). Keyed by appId
    * so a fresh session re-exports rather than trusting a stale /tmp.
    */
  private[graft] def binObjectsDir(spark: SparkSession, dir: String): String =
    binObjCache.computeIfAbsent(
      spark.sparkContext.applicationId + "#" + dir, _ => {
        val p = graft.Tables.scratchDir("graft_obj_")
        val M = graft.operators.Multimodal
        graft.sinks.Sinks.binaryObjects(
          documents(spark, dir)
            .where(col("doc_id") % 10 === 7)
            .select(concat(lit("doc_"), col("doc_id").cast("string")).as("name"),
              M.payloadCol(col("text")).as("content")),
          p)
        p
      })

  /** s16 — BINARY-OBJECT source (`binaryFile`): the lake layout
    * multimodal corpora actually land in — one image per object —
    * read back through Spark's binaryFile source and pushed straight
    * through mm15's REAL byte decode: the object key parses to
    * doc_id, the header parses to dimensions, and the
    * resolution/aspect lanes route exactly as the nightly gate. This
    * closes the ingest loop the mm-family synthesized in-plan:
    * export via the executor-side object sink
    * ([[graft.sinks.Sinks.binaryObjects]]), ingest via binaryFile,
    * and the construction-mirror oracle proves
    * export∘ingest∘parse∘gate = gate∘construct.
    *
    * Scale shape: binaryFile lists and reads objects in parallel
    * (partitioned by file), prunes on path/length metadata before
    * content IO, and everything after the scan is one row-local
    * projection. At 100 TB the listing cost dominates tiny objects —
    * production batches them (the maxPartitionBytes knob) or lands a
    * manifest; both change the scan, not this plan.
    */
  val s16_binaryfile_source: Q = (spark, dir) =>
    binaryLanesOf(spark.read.format("binaryFile")
      .load(binObjectsDir(spark, dir) + "/*.bin"))

  /** s16's key parse, BMP decode and lane routing over any binaryFile
    * relation — st110 passes its binaryFile stream.
    */
  private[graft] def binaryLanesOf(objects: DataFrame): DataFrame = {
    val M = graft.operators.Multimodal
    objects
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long")
          .as("doc_id"),
        col("length").cast("long").as("byte_len"),
        col("content"))
      .select(col("doc_id"), col("byte_len"),
        M.decodeBmp(col("content")).as("dims"))
      .select(col("doc_id"), col("byte_len"),
        col("dims").getField("width").as("width"),
        col("dims").getField("height").as("height"))
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
        when(col("width") === 0 || col("height") === 0, "degenerate")
          .when(least(col("width"), col("height")) < 32, "too_small")
          .when(col("width") * lit(1000L) > col("height") * lit(3000L) ||
            col("height") * lit(1000L) > col("width") * lit(3000L),
            "extreme_aspect")
          .otherwise("ok").as("lane"))
  }

  /** s14 — TIME-TRAVEL READ (snapshot versioning over a diff log):
    * reconstruct a table AS OF version k from an append-only version
    * LOG — the lakehouse primitive (Delta/Iceberg "VERSION AS OF")
    * that p17's diff model implies: if every nightly publishes its
    * delta (full-image upserts + delete tombstones), any historical
    * snapshot is the fold of the log up to k, and storage costs
    * base + deltas instead of a copy per version. The log here is
    * deterministic: v0 = the base corpus as upserts; v1 applies
    * p17's mutation set (remove %11==5, rewrite %7==3, add %13==2);
    * v2 removes %17==0, rewrites %5==1 (carrying v1's image — a
    * full-image log row must restate the CURRENT text), adds %23==21.
    * Both AS OF 1 and AS OF 2 are emitted, tagged.
    *
    * Scale shape: AS OF k = one argmax-by-version per key
    * (`max(struct(ver, …))` with map-side partials — one shuffle on
    * the key), filtered to surviving upserts; at scale the log lands
    * version-partitioned so the `ver <= k` predicate prunes
    * partitions before the fold, and a served table (st55's CDC
    * serving) absorbs the common k = latest case. The DuckDB twin
    * folds via a row_number window — structurally different.
    */
  val s14_time_travel: Q = (spark, dir) => {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val nullT = lit(null).cast("string")
    def row(ver: Int, id: Column, op: String, text: Column) =
      Seq(lit(ver.toLong).as("ver"), id.as("doc_id"), lit(op).as("op"), text.as("text"))
    val log = d.select(row(0, col("doc_id"), "upsert", col("text")): _*)
      .unionByName(d.where(col("doc_id") % 11 === 5)
        .select(row(1, col("doc_id"), "delete", nullT): _*))
      .unionByName(d.where(col("doc_id") % 7 === 3 && !(col("doc_id") % 11 === 5))
        .select(row(1, col("doc_id"), "upsert", concat(col("text"), lit(" [v2]"))): _*))
      .unionByName(d.where(col("doc_id") % 13 === 2)
        .select(row(1, col("doc_id") + 1000000L, "upsert",
          concat(col("text"), lit(" [new]"))): _*))
      .unionByName(d.where(col("doc_id") % 17 === 0 && !(col("doc_id") % 11 === 5))
        .select(row(2, col("doc_id"), "delete", nullT): _*))
      .unionByName(d.where(col("doc_id") % 5 === 1 &&
          !(col("doc_id") % 11 === 5) && !(col("doc_id") % 17 === 0))
        .select(row(2, col("doc_id"), "upsert",
          concat(when(col("doc_id") % 7 === 3, concat(col("text"), lit(" [v2]")))
            .otherwise(col("text")), lit(" [v3]"))): _*))
      .unionByName(d.where(col("doc_id") % 23 === 21)
        .select(row(2, col("doc_id") + 1100000L, "upsert",
          concat(col("text"), lit(" [new2]"))): _*))
    def asOf(k: Int) = log.where(col("ver") <= k)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("ver"), col("op"), col("text"))).as("m"))
      .where(col("m.op") === "upsert")
      .select(lit(k.toLong).as("version_read"), col("doc_id"),
        col("m.text").as("text"))
    asOf(1).unionByName(asOf(2))
  }

  /** One mixed-generation parquet dir per sfDir: generation 1 landed
    * WITHOUT the `value` column (the pre-migration envelope),
    * generation 2 appended WITH it — the fixture for the
    * schema-evolution read path.
    */
  private val evoCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def evoCopy(spark: SparkSession, dir: String): String =
    evoCache.computeIfAbsent(dir, _ => {
      val p = graft.Tables.scratchDir("graft_evo_")
      val ev = events(spark, dir)
      ev.where(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").parquet(s"$p/t")
      ev.where(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("append").parquet(s"$p/t")
      p
    })

  /** P13 — SCHEMA EVOLUTION READ: one table, two file generations —
    * the old files predate the `value` column (every long-lived 100 TB
    * table is mid-migration somewhere). `mergeSchema` unions the file
    * footers into one schema and old files surface the new column as
    * null — no rewrite of petabytes of history, the reader absorbs
    * the drift. (mergeSchema is a FOOTER-only pass and off by default
    * because footer-listing 100k files costs real time: production
    * pins the merged schema in a catalog and this read path is the
    * migration-window fallback.) The oracle reconstructs the same
    * relation from the raw table: the generation split is
    * deterministic (event_id parity), so old-generation rows must
    * carry null value.
    */
  val p13_schema_evolution: Q = (spark, dir) => {
    val p = evoCopy(spark, dir)
    spark.read.option("mergeSchema", "true").parquet(s"$p/t")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
  }

  /** a19 — TIME-DECAYED ENGAGEMENT: per event type, the
    * exponentially-decayed value total (half-life flavored, λ = 1/30
    * days against a PINNED anchor date — the p05 pinned-now
    * discipline; an unpinned now() makes results irreproducible).
    * Engine-exact by the t18 construction: the decay weight is
    * floor-quantized to integer micro-units per row, value rides in
    * integer cents, and the summed products are exact longs — the sum
    * is associative, so map-side partials and DuckDB's parallel
    * aggregation agree bit-for-bit. One shuffle with map-side
    * partials; the decay arithmetic is a stateless per-row projection
    * at the scan.
    */
  /** The pinned as-of date for the decay family (a19 + st47's serving
    * twin) — one constant so the two modes cannot drift; the SQL twin
    * pins the same literal.
    */
  private[graft] val DecayAnchor = "2024-02-15"

  val a19_decayed_engagement: Q = (spark, dir) => {
    val anchor = lit(DecayAnchor).cast("date")
    events(spark, dir)
      .select(col("event_type"),
        datediff(anchor, to_date(col("ts"))).cast("long").as("age_days"),
        cents(col("value")).cast("long").as("c"))
      .withColumn("w_micro",
        floor(exp(-col("age_days").cast("double") / 30.0) * 1000000).cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("c") * col("w_micro")).as("decayed_micro_cents"),
        count(lit(1)).as("n_events"))
  }

  // --------------------------------------------------------------------
  // A — aggregations
  // --------------------------------------------------------------------

  /** A1 — keyed revenue sum (trademark revenue,
    * ads/TradeMarkAmountApp.scala:47-56): fact⋈dim star join +
    * groupBy(brand).sum(net revenue). The flagship M0 query: dim join
    * (auto-broadcast under threshold; `part` scales with SF so no
    * forced hint) → partial (map-side) agg → single shuffle on p_brand.
    */
  val a01_brand_revenue: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** A2 — keyed sum, second key shape ("hot goods" by spu,
    * ads/HotwoodsCount.scala:47-56 — replicating the intent: group on
    * the two real columns, not the reference's buggy concat/split key).
    */
  val a02_type_revenue: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("amount"))
  }

  /** A3 — distinct-by-key-per-day (DAU, app/Dau.scala:104-123): the
    * Redis-sadd dedup becomes an exact per-day distinct count. Partial
    * aggregation makes this one shuffle of (dt, user_id) pairs.
    */
  val a03_dau: Q = (spark, dir) => {
    events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .groupBy(col("dt"))
      .agg(countDistinct(col("user_id")).as("dau"))
  }

  /** A4 — per-order running accumulator (Redis read-modify-write
    * sum-so-far, dws/OrderWiderApp.scala:163-191) as a deterministic
    * window running sum ordered by line number. Exact integer-cents so
    * the oracle hash-matches.
    */
  val a04_running_sum: Q = (spark, dir) => {
    // RANGE (not ROWS) frame: (l_orderkey, l_linenumber) is NOT unique in
    // the testdata, so a ROWS frame would be tie-order-dependent; RANGE
    // includes all peers of the current row — deterministic.
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      (sum(cents(col("l_extendedprice"))).over(w) / 100).as("running_amount"))
  }

  /** §2.7 — top-k (the ranking the reference leaves to MySQL consumers):
    * ORDER BY revenue DESC LIMIT 10 with a deterministic tiebreak.
    * Executes as TakeOrderedAndProject — no global sort materialized.
    */
  val a05_top_brands: Q = (spark, dir) => {
    a01_brand_revenue(spark, dir)
      .orderBy(col("revenue").desc, col("p_brand"))
      .limit(10)
  }

  /** §2.7 — GROUPED top-k: the top 3 brands per part type. The
    * complement of a05's global top-k: with one (or few) result
    * groups, `TakeOrderedAndProject`/the bounded TopK Aggregator is
    * the scalable shape; with MANY groups the per-group window rank is
    * — the sort is partition-local after one shuffle on the group key,
    * and no group's data ever concentrates beyond its natural share.
    * Deterministic tiebreak on the brand.
    */
  val a08_top_brands_per_type: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    val rev = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_type"), col("p_brand"))
      .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_type"))
      .orderBy(col("revenue").desc, col("p_brand"))
    rev.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 3)
  }

  /** a11 — MULTI-LEVEL ROLLUP: revenue by region, drillable to nation,
    * with subtotals and the grand total in one pass — the warehouse
    * cube query the reference's ADS layer reports from. `grouping_id`
    * disambiguates subtotal rows from real NULL keys (none exist here,
    * but the column is part of the rollup contract). Integer-cents
    * money arithmetic for engine parity.
    *
    * Scale shape: Spark expands the rollup into grouping sets over ONE
    * shuffle with map-side partials per set; the dims
    * (customer→nation→region) broadcast as in a01 (bounded side). Output
    * is |nations| + |regions| + 1 rows.
    */
  val a11_revenue_rollup: Q = (spark, dir) => {
    val o = orders(spark, dir)
    val c = customer(spark, dir)
    val n = nation(spark, dir)
    val r = region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(moneySum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
  }

  /** a12 — PIVOT: the per-day event-type activity matrix (days down,
    * event types across) every ops dashboard renders. The pivot column
    * set is FIXED (the five known event types) — an unpinned pivot
    * requires a distinct-scan planning pass and produces an
    * SF-dependent schema, both wrong at scale; pinning makes the pivot
    * a single groupBy with five conditional counts under one shuffle.
    */
  val a12_event_pivot: Q = (spark, dir) => {
    events(spark, dir)
      .select(to_date(col("ts")).as("dt"), col("event_type"))
      .groupBy(col("dt"))
      .pivot(col("event_type"), Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L) // pivot leaves absent (day, type) cells null; dashboards want 0
  }

  /** a13 — EXACT VALUE QUANTILES per event type (p50/p90/p99 of the
    * event value — the latency/size-distribution dashboard every ops
    * layer reports): order statistics picked by explicit rank
    * (`rn = ceil(q·n)` over a deterministic (value, event_id) order),
    * NOT an engine quantile builtin — continuous-interpolation and
    * index-rounding rules differ across engines, while a picked order
    * statistic is the same row everywhere by construction (the p12
    * regex-verdict portability argument applied to quantiles).
    *
    * Scale shape: ONE exchange on event_type; both window functions
    * (rank + group size) share the partition spec, so they evaluate in
    * one partition-local sorted pass, and the final groupBy reuses the
    * same hash distribution (no second shuffle). Exact quantiles
    * require the per-group sort, so a LOW-cardinality group column
    * concentrates data (5 types here — at 100 TB each partition sorts
    * ~20 TB); [[a14_quantile_sketch]] is the mergeable-sketch variant
    * for that regime, spec-bounded against this query's exact answers
    * (it trades the oracle-checkable exactness this query keeps).
    */
  val a13_value_quantiles: Q = (spark, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val byType = W.partitionBy(col("event_type"))
    val ranked = events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(byType.orderBy(col("value"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byType))
    def pick(q: Double) =
      max(when(col("rn") === ceil(lit(q) * col("n")), col("value")))
    ranked.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"),
        pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
  }

  /** a14 — the MERGEABLE QUANTILE SKETCH twin of a13: p50/p90/p99 per
    * event type via [[graft.functions.QuantileSketchAgg]] (the
    * deterministic MRL/KLL-family compactor), k = 2048. This is the
    * 100 TB regime a13's docstring defers to: a13's exact picked
    * order statistics need a partition-local sort of each group
    * (5 groups × ~20 TB at 100 TB); the sketch reduces every
    * partition map-side to an O(k·log(n/k)) summary, the exchange
    * carries sketches instead of values, and NO full sort happens
    * anywhere. Worst-case rank error ≤ 2nH/k (H ≈ log₂(n/k)) —
    * ~0.9 % of rank at n = 10⁶ — with typical error far below (the
    * alternating-parity cancellation; see the Aggregator's docstring).
    *
    * Follows the a07 HLL precedent: the result depends on the merge
    * tree (partitioning), so there is no cross-engine oracle — the
    * driver records the rows-only check, and `QuantileSketchSpec`
    * bounds it against a13's exact answers plus the merge laws.
    */
  val a14_quantile_sketch: Q = (spark, dir) => {
    val sk = graft.functions.QuantileSketch.quantileSketch(2048)(col("value"))
    events(spark, dir)
      .select(col("event_type"), col("value"))
      .where(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(sk.as("s"))
      .select(col("event_type"), col("s.n_events").as("n_events"),
        col("s.p50").as("p50"), col("s.p90").as("p90"), col("s.p99").as("p99"))
  }

  /** a14x — THE QUANTILE SKETCH IN ITS EXACT REGIME, hash-oracle-
    * checked (the a17 pattern, shrinking the no-oracle carve-out):
    * capacity 4096 against a ≤4000-row slice (`event_id < 4000` — ids
    * are dense from 0, so the slice is SF-invariant), so level 0 never
    * reaches capacity, NO compaction ever fires, and the sketch holds
    * the exact multiset under ANY merge tree — finish()'s weighted
    * order statistic degenerates to the plain rank-⌈p·n⌉ order
    * statistic, which the DuckDB twin computes directly (ROW_NUMBER
    * over value; ⌈p·n⌉ is identical exact-rounded IEEE on both
    * engines). This pins the ENTIRE buffer arithmetic — encoder,
    * reduce, merge, finish — cross-engine; only the compaction branch
    * stays spec-bounded (a14), now a genuinely merge-dependent
    * residue.
    */
  val a14x_quantile_exact: Q = (spark, dir) => exactQuantilesOf(events(spark, dir))

  /** a14x's exact-regime sketch over any events relation — st81
    * upserts it from its event stream.
    */
  private[graft] def exactQuantilesOf(ev: DataFrame): DataFrame = {
    val sk = graft.functions.QuantileSketch.quantileSketch(4096)(col("value"))
    ev.select(col("event_type"), col("value"), col("event_id"))
      .where(col("value").isNotNull && col("event_id") < 4000L)
      .groupBy(col("event_type"))
      .agg(sk.as("s"))
      .select(col("event_type"), col("s.n_events").as("n_events"),
        col("s.p50").as("p50"), col("s.p90").as("p90"), col("s.p99").as("p99"))
  }

  /** a15 — MERGEABLE HEAVY HITTERS (the third of the sketch trio —
    * distinct counts a07, quantiles a14, frequent items this): the
    * Misra-Gries summary of [[graft.functions.HeavyHittersAgg]] over
    * the brand frequency of lineitem (k = 16 counters against 25
    * brands, so capacity genuinely binds and the decrement path runs).
    * Emits ≤ k rows (brand, est_cnt) plus the exact total, ranked by
    * estimated count.
    *
    * Scale shape: the dim join broadcasts (25 parts rows per brand);
    * the aggregation reduces each partition map-side to ≤ k counters,
    * so the exchange carries k longs per partition — at 100 TB this
    * replaces a full groupBy of a high-cardinality key with an O(k)
    * exchange, the regime where the exact a01/a05 shape stops being
    * the first tool. Guarantee (spec-asserted): est never overcounts,
    * undercounts ≤ ⌊n/(k+1)⌋, and every item with true frequency
    * > n/(k+1) is present. Merge-tree-dependent like every counter
    * summary → no DuckDB oracle (the a07/a14 precedent); the driver
    * records the rows-only check and `HeavyHittersSpec` bounds it
    * against exact counts.
    */
  val a15_heavy_hitters: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .select(col("p_brand"))
      .agg(graft.functions.HeavyHitters.heavyHitters(16)(col("p_brand")).as("s"))
      .select(col("s.n_items").as("n_items"), explode(col("s.hits")).as("h"))
      .select(col("n_items"), col("h.item").as("p_brand"),
        col("h.est_cnt").as("est_cnt"))
  }

  /** a15x — MISRA-GRIES IN ITS EXACT REGIME, hash-oracle-checked:
    * k = 32 counters against 25 distinct brands, so reduce() never
    * takes the decrement branch and merge() never trims — the summary
    * IS the exact per-brand count under any merge tree, and the DuckDB
    * twin is a plain groupBy count. Complements a15 (k = 16, capacity
    * binding): together they pin the counter arithmetic cross-engine
    * and bound the sketchy regime against the exact one.
    */
  val a15x_heavy_hitters_exact: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .select(col("p_brand"))
      .agg(graft.functions.HeavyHitters.heavyHitters(32)(col("p_brand")).as("s"))
      .select(col("s.n_items").as("n_items"), explode(col("s.hits")).as("h"))
      .select(col("n_items"), col("h.item").as("p_brand"),
        col("h.est_cnt").as("est_cnt"))
  }

  /** j14 — MULTI-TOUCH ATTRIBUTION (the complement of j12's
    * last-touch): every purchase splits its value EQUALLY, in exact
    * integer cents, across ALL the user's clicks in the strictly-prior
    * 7-day lookback — the linear-credit model of ads measurement.
    * Remainder cents go one-per-click to the earliest ranks (w03's
    * deterministic allocation rule), so per-purchase credit sums to
    * the purchase's cents EXACTLY on both engines.
    *
    * Scale shape: ONE user_id exchange — the click set per purchase
    * comes from a RANGE-framed window over event-time micros (the
    * per-user sorted sweep; never a user-crossing inequality join),
    * the explode is per-row, and the credit arithmetic is pure
    * integer. The DuckDB twin is a structurally different correlated
    * interval join + rank, so the differential checks semantics, not
    * plan. Purchases with no lookback click drop (inner semantics —
    * j12 carries the null-on-miss variant of attribution).
    */
  val j14_multitouch_attribution: Q = (spark, dir) => {
    val lookbackUs = 7L * 86400L * 1000000L
    val ev = events(spark, dir).select(col("event_id"), col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("tsu"), col("value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-lookbackUs, -1L)
    ev.withColumn("clicks", collect_list(
        when(col("event_type") === "click",
          struct(col("tsu"), col("event_id")))).over(w))
      .where(col("event_type") === "purchase" && size(col("clicks")) > 0)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        sort_array(col("clicks")).as("clicks"))
      .select(col("purchase_id"), col("user_id"), col("cents"),
        size(col("clicks")).cast("long").as("n_clicks"),
        posexplode(col("clicks")))
      .select(col("purchase_id"), col("user_id"),
        col("col.event_id").as("click_id"),
        (col("pos") + 1).cast("long").as("click_rank"), col("n_clicks"),
        (floor(col("cents") / col("n_clicks")).cast("long") +
          when(col("pos") + 1 <= pmod(col("cents"), col("n_clicks")), 1L)
            .otherwise(0L)).as("credit_cents"))
  }

  /** Sample size for [[a17_kmv_sample]] (KMV "k minimum values"). */
  private[graft] val KmvK = 64

  /** a28 — A/B ASSIGNMENT + SRM GUARD: deterministic experiment
    * bucketing (hash-of-user, the only assignment that survives
    * retries, backfills and cross-device joins) with the Sample
    * Ratio Mismatch check every experimentation platform runs before
    * trusting a readout — a 50/50 split whose realized counts are
    * improbably lopsided means the assignment or logging is broken,
    * and any lift computed on it is noise. Per event_type: arm
    * counts, per-arm revenue means, and the 1-df chi-square for the
    * 50/50 null as EXACT integer micro-units — χ²·10⁶ =
    * (n_t − n_c)²·10⁶ div (n_t + n_c) — flagged against the p=0.05
    * critical value 3.841459 (a shared literal; no engine evaluates
    * a distribution function). Means are exact-integer double
    * divisions of cent sums.
    *
    * Scale shape: assignment is row-local; everything aggregates in
    * ONE hash(event_type) pass with map-side partials (arm columns
    * are conditional aggregates, never a second scan); |types| rows
    * out. The per-USER dedup subtlety is deliberate: SRM is checked
    * on distinct users (count_distinct per arm rides the same
    * rollup), not events — an active user must not vote twice.
    */
  val a28_ab_assignment: Q = (spark, dir) => {
    val arm = pmod(graft.functions.Portable.hash60(
      concat(lit("exp:"), col("user_id").cast("string"))), lit(2L))
    val ev = events(spark, dir).select(col("event_type"), col("user_id"),
      graft.Tables.cents(col("value")).cast("long").as("c"), arm.as("arm"))
    ev.groupBy(col("event_type"))
      .agg(
        countDistinct(when(col("arm") === 1, col("user_id"))).as("n_treat"),
        countDistinct(when(col("arm") === 0, col("user_id"))).as("n_ctrl"),
        (sum(when(col("arm") === 1, col("c"))).cast("double") /
          count(when(col("arm") === 1, 1L)).cast("double")).as("treat_mean_c"),
        (sum(when(col("arm") === 0, col("c"))).cast("double") /
          count(when(col("arm") === 0, 1L)).cast("double")).as("ctrl_mean_c"))
      .withColumn("chi2_micro",
        expr("CAST((n_treat - n_ctrl) * (n_treat - n_ctrl) * 1000000 div (n_treat + n_ctrl) AS BIGINT)"))
      .withColumn("srm_flag", col("chi2_micro") > 3841459L)
  }

  /** a27 — CONVERSION LATENCY DISTRIBUTION: p50/p90/p99 of the
    * click→purchase gap per purchase day — the time-to-convert
    * funnel metric, composed from j12's as-of assignment (the gap
    * column j12 emits is exactly this distribution's raw material)
    * with a13's exact rank-picked quantiles on top. Unattributed
    * purchases (no prior click) are excluded and COUNTED — a latency
    * distribution silently absorbing nulls as zeros is the classic
    * dashboard lie, so the n_unattributed column rides beside n.
    *
    * Scale shape: j12's one user_id sweep, then one hash(dt)
    * exchange for the rank window + rollup; day keys are bounded, so
    * the second exchange carries |purchases| thin rows. Quantiles
    * defer to a14's sketch at 100 TB per a13's note.
    */
  val a27_conversion_latency: Q = (spark, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val g = j12_attribution_asof(spark, dir)
      .select(date_format(timestamp_micros(col("tsu")), "yyyy-MM-dd").as("dt"),
        col("gap_us"), col("event_id"))
    val byDay = W.partitionBy(col("dt"))
    val ranked = g.where(col("gap_us").isNotNull)
      .withColumn("rn", row_number().over(byDay.orderBy(col("gap_us"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byDay))
    def pick(q: Double) =
      max(when(col("rn") === ceil(lit(q) * col("n")), col("gap_us")))
    val unatt = g.where(col("gap_us").isNull)
      .groupBy(col("dt")).agg(count(lit(1)).as("n_unattributed"))
    ranked.groupBy(col("dt"))
      .agg(max(col("n")).as("n_attributed"),
        pick(0.5).as("p50_us"), pick(0.9).as("p90_us"), pick(0.99).as("p99_us"))
      .join(unatt, Seq("dt"), "left")
      .select(col("dt"), col("n_attributed"),
        coalesce(col("n_unattributed"), lit(0L)).as("n_unattributed"),
        col("p50_us"), col("p90_us"), col("p99_us"))
  }

  /** a26 — ROLLING 7-DAY DISTINCT USERS (the sliding-window distinct
    * problem): distinct counts do NOT decompose over window frames —
    * a running sum can slide, a running distinct cannot (yesterday's
    * leavers are invisible to a counter) — so the production answer
    * is a MERGEABLE summary per day, merged across the frame. Here
    * the summary is a17's KMV bottom-k ([[graft.functions.MinK]] —
    * set-semantics, merge-tree free, so unlike the HLL twin the
    * whole relation hash-checks exactly), realized as one explode of
    * each (day, user) into the 7 windows it serves: at 100 TB the
    * replication carries an 8-byte hash + id, not the event, and the
    * alternative — 7 daily re-scans or an exact distinct per window
    * — re-shuffles the raw corpus per frame. The exact count rides
    * along (the estimator's audit column, a17's convention); windows
    * past the corpus edge are partial by construction, like any
    * trailing dashboard day.
    *
    * Scale shape: one (day, user) pre-dedup exchange, one explode
    * (×7, thin rows), one day-keyed aggregation whose min-k partials
    * collapse map-side to ≤ k items. Estimate arithmetic is a17's
    * verbatim IEEE parenthesization.
    */
  val a26_rolling_distinct: Q = (spark, dir) => {
    val k = KmvK
    val pd = events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val ex = pd.select(
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
        col("user_id"))
      .distinct()
    val h = graft.functions.Portable.hash60(
      concat(lit("kmv:"), col("user_id").cast("string")))
    val kth = element_at(col("s.items"), size(col("s.items"))).getField("h")
    ex.groupBy(col("day"))
      .agg(count(lit(1)).as("n_exact"),
        graft.functions.MinK.minK(k)(h, col("user_id")).as("s"))
      .select(date_format(col("day"), "yyyy-MM-dd").as("dt"),
        col("n_exact"),
        size(col("s.items")).cast("long").as("n_kept"),
        kth.as("kth"),
        when(size(col("s.items")) < k, size(col("s.items")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            kth.cast("double")).cast("long")).as("est_distinct"))
  }

  /** a17 — KMV BOTTOM-K SKETCH: the k smallest 60-bit hashes of the
    * distinct users per event type — simultaneously a DETERMINISTIC
    * UNIFORM SAMPLE of the distinct users (min-wise: every distinct
    * user is equally likely to land under any hash threshold) and a
    * distinct-count estimator (est = (k−1)·2⁶⁰ / h₍ₖ₎; exact when a
    * type has < k distinct users — then the sample IS the set). The
    * deterministic counterpoint to a07's HLL: because the hash and
    * the order statistic are engine-portable, the WHOLE sketch is
    * oracle-checkable by hash — no no-oracle carve-out — while
    * keeping the mergeable-summary scale story (min-k of a union is
    * the min-k of min-ks; a production rollup unions per-partition
    * bottom-k lists, never the raw keys).
    *
    * Scale shape: the distinct pass is the one wide exchange (its
    * map-side partial dedup carries ≤ |partition distinct| rows); the
    * rank and kth-value windows then share the event_type
    * distribution. Estimate arithmetic is identically parenthesized
    * IEEE on both engines (the t23 discipline): (k−1)·2⁶⁰ is exact in
    * a double, one exact-rounded divide, floor.
    */
  val a17_kmv_sample: Q = (spark, dir) => {
    val uh = events(spark, dir)
      .select(col("event_type"), col("user_id"),
        graft.functions.Portable.hash60(
          concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
      .distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"), col("user_id"))
    kmvEstimateOf(uh.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= KmvK))
  }

  /** a17's per-type estimate over the kept (event_type, rank,
    * user_id, h) sample — st43 runs it on read over its served
    * sketches.
    */
  private[graft] def kmvEstimateOf(kept: DataFrame): DataFrame = {
    val k = KmvK
    val wt = Window.partitionBy(col("event_type"))
    kept
      .withColumn("n_kept", max(col("rank")).over(wt))
      .withColumn("kth", max(col("h")).over(wt))
      .select(col("event_type"), col("rank"), col("user_id"), col("h"),
        when(col("n_kept") < k, col("n_kept")).otherwise(
          floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            col("kth").cast("double"))).as("est_distinct"))
  }

  /** a56 — DYNAMIC-GAP SESSIONIZATION (`session_window` with a gap
    * EXPRESSION — the overload a16/st08's fixed 30-minute rule can't
    * reach): a purchase closes its session after 10 idle minutes,
    * anything else after 30 ([[graft.streaming.Pipelines
    * .dynamicSessionActivity]], shared verbatim with the streamed
    * twin st118). The oracle is the gaps-and-islands RUNNING-MAX
    * construction — an event opens a session iff its time is ≥ the
    * max (ts+gap) of every earlier event (with per-event gaps a
    * simple lag compare is WRONG: a long-gap event can bridge over a
    * short-gap successor); session end = max member (ts+gap), the
    * half-open [start, end) rule. One user-keyed exchange either way.
    */
  val a56_dynamic_session: Q = (spark, dir) =>
    graft.streaming.Pipelines.dynamicSessionActivity(events(spark, dir))

  /** a16 — BATCH SESSIONIZATION (the batch twin of st08's
    * `session_window`, same 30-minute gap rule and output shape): the
    * classic gap-and-island construction — a lag window flags every
    * event ≥ 30 min after its predecessor as a session opener, a
    * running sum turns the flags into per-user session ids, and one
    * rollup emits each session's bounds (+gap-extended end, matching
    * `session_window`'s close semantics) and event count. Gap
    * arithmetic is in exact epoch MICROSECONDS on both engines (a
    * seconds-truncated compare would flip verdicts on sub-second
    * boundary gaps).
    *
    * Scale shape: both windows share PARTITION BY user_id ORDER BY ts
    * — ONE exchange + ONE sort serve the lag and the running sum; the
    * session rollup re-keys on (user_id, sid). Ties (equal ts) cannot
    * straddle a boundary — a 0 gap never opens a session — so the
    * output is tie-order free even though lag's intra-tie order
    * isn't.
    */
  val a16_sessionize: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapMicros = 30L * 60L * 1000000L
    events(spark, dir)
      .select(col("user_id"), col("ts"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= gapMicros, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(wr))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")) + expr("INTERVAL 30 MINUTES"),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events"))
  }

  /** a29 — SESSION CONVERSION RATE: sessions (a16's 30-minute gap
    * rule, same construction) rolled to a per-day funnel — sessions
    * started, sessions containing a purchase, and the conversion
    * per-mille as an exact integer division. The SESSION is the
    * right conversion denominator (per-event rates double-count
    * active users; per-user rates hide frequency) — this is the
    * number a16's bounds exist to feed.
    *
    * Scale shape: a16's single user_id exchange (lag + running sum +
    * session rollup all co-distributed), then one |days| rollup.
    */
  val a29_session_conversion: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapMicros = 30L * 60L * 1000000L
    val sess = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= gapMicros, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(wr))
      .groupBy(col("user_id"), col("sid"))
      .agg(date_format(min(col("ts")), "yyyy-MM-dd").as("dt"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
    sess.groupBy(col("dt"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converted"))
      .withColumn("conv_pm",
        expr("CAST(n_converted * 1000 div n_sessions AS BIGINT)"))
  }

  /** a18 — CUBE (full grouping-set lattice): every (day, event_type)
    * margin of the activity matrix in ONE pass — per-cell, per-day,
    * per-type and grand totals, distinguished by `grouping_id` (a11's
    * rollup covers the hierarchical lattice; CUBE is the cross one,
    * completing the multi-dimensional aggregate surface a DWS layer
    * serves). Spark expands the lattice BELOW the aggregation: one
    * Expand node emits 4 tagged copies per row into a single hash
    * aggregation — one shuffle with map-side partials, not four
    * passes; at 100 TB the ×|lattice| expansion happens on the
    * map side pre-combine, which is exactly where it's affordable.
    * Money stays in integer cents for engine parity.
    */
  val a18_event_cube: Q = (spark, dir) => {
    events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("event_type"),
        col("value"))
      .cube(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"),
        grouping_id().cast("long").as("gid"))
  }

  /** a09 — ORDERED FUNNEL over the event stream (signup → click →
    * purchase): a user advances a stage only with a strictly LATER
    * event of the next type — min-timestamp per stage, each computed
    * against the previous stage's anchor (the standard ordered-funnel
    * semantics; an unordered "did all three ever" count overstates
    * conversion). Emits one row per stage with the surviving user
    * count.
    *
    * Scale shape: three aggregations and two joins, ALL keyed on
    * user_id — one logical hash partitioning reused across every
    * stage (co-partitioned joins, no re-shuffle); each stage's input
    * is pre-filtered to one event type at the scan (pushed predicate).
    * The final counts collapse to 3 rows.
    */
  val a09_funnel: Q = (spark, dir) => {
    val ev = events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.where(col("event_type") === "click")
      .join(s1, "user_id").where(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.where(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.agg(count(lit(1)).as("n_users")).select(lit("1_signup").as("stage"), col("n_users"))
      .unionAll(s2.agg(count(lit(1)).as("n_users"))
        .select(lit("2_signup_click").as("stage"), col("n_users")))
      .unionAll(s3.agg(count(lit(1)).as("n_users"))
        .select(lit("3_signup_click_purchase").as("stage"), col("n_users")))
  }

  /** a10 — RETENTION COHORT TRIANGLE: users are cohorted by their
    * first-seen calendar date; each (cohort_date, day_offset) cell
    * counts the distinct users of that cohort active that many days
    * later — the table every growth dashboard draws. Day 0 is the
    * cohort itself, so its count is the cohort size.
    *
    * Scale shape: first-seen is one aggregation on user_id; the join
    * back to the event stream reuses the same key partitioning; the
    * final rollup shuffles (date, offset) pairs — |days|² cells out.
    * At 100 TB the distinct-count is the heavy op; map-side partials
    * reduce each (cohort, offset, user) to one row before the count.
    */
  val a10_retention: Q = (spark, dir) => {
    val ev = events(spark, dir).select(col("user_id"), to_date(col("ts")).as("dt"))
    val first = ev.groupBy(col("user_id")).agg(min(col("dt")).as("cohort_date"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("dt"), col("cohort_date")).cast("long").as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_active"))
  }

  /** j11 — SCD TYPE-2 HISTORY from the event stream: per user, collapse
    * consecutive same-type events into versions and emit each version's
    * validity interval — the slowly-changing-dimension build the
    * reference's CDC-fed DWD layer implies (every `maxwell` op-type
    * row updates a dim row; SCD2 is how a warehouse keeps the history
    * instead of overwriting). A version opens where the attribute
    * CHANGES (lag differs), closes when the next version opens
    * (lead), and the open version is flagged current. Deterministic
    * order: (ts, event_id) — exact-tie events cannot reorder versions.
    *
    * Scale shape: both window passes partition on user_id — ONE
    * shuffle, sorts are partition-local, and the change-point filter
    * runs between them without re-exchanging (same key). Emits one row
    * per version, not per event.
    */
  /** j11's DuckDB twin — factored so j21's audit oracle can chain it. */
  private[graft] val duckScd2Sql: String =
    """WITH c AS (SELECT user_id, event_type, ts, event_id,
                         lag(event_type) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                  FROM events),
        ch AS (SELECT user_id, event_type, ts, event_id FROM c
               WHERE prev_type IS NULL OR prev_type <> event_type)
        SELECT user_id, event_type,
               CAST(row_number() OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version_n,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 AS is_current
        FROM ch"""

  /** j21 — SCD2 CONSISTENCY AUDIT: the invariants every point-in-time
    * consumer (j16) silently assumes, COUNTED instead of trusted — per
    * entity: version count, OVERLAPS (a version opening before its
    * predecessor closed: two truths at one instant — the classic
    * double-apply backfill bug), GAPS (opening after it closed: the
    * interval where a PIT probe correctly gets nulls, j16's expiry
    * path), and whether an open current version exists at all. The
    * fixture PLANTS both rots deterministically on j11's clean history
    * (every 7th-mod-3 version deleted → gaps + possibly no current;
    * every 5th version's open slid 30 min early → overlaps), so both
    * counting paths are exercised, not just compiled — the mm08
    * construct∘corrupt∘audit discipline on the time axis.
    *
    * Scale shape: j11's one user_id exchange carries the lag audit
    * (same key, no re-exchange) and the per-user rollup; output is
    * |users| rows.
    */
  val j21_scd_audit: Q = (spark, dir) => {
    val planted = j11_scd2_history(spark, dir)
      .where(col("version_n") % 7 =!= 3)
      .withColumn("valid_from",
        when(col("version_n") % 5 === 0,
          col("valid_from") - expr("INTERVAL 30 MINUTES"))
          .otherwise(col("valid_from")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("version_n"))
    planted
      .withColumn("prev_to", lag(col("valid_to"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("prev_to").isNotNull && col("valid_from") < col("prev_to"),
          1L).otherwise(0L)).as("n_overlaps"),
        sum(when(col("prev_to").isNotNull && col("valid_from") > col("prev_to"),
          1L).otherwise(0L)).as("n_gaps"),
        max(when(col("is_current"), 1L).otherwise(0L)).as("has_current"))
  }

  val j11_scd2_history: Q = (spark, dir) => {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val byUserChanges = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("version_n", row_number().over(byUserChanges).cast("long"))
      .withColumn("valid_to", lead(col("ts"), 1).over(byUserChanges))
      .select(col("user_id"), col("event_type"), col("version_n"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** j16 — POINT-IN-TIME (SCD2) JOIN: each click joined to the dim
    * VERSION whose half-open validity interval contains it — the
    * warehouse classic (fact row → dim attributes as of fact time)
    * that j12's as-of cannot express: an as-of carries the latest
    * prior version forever, while PIT must EXPIRE at `valid_to`, so a
    * probe falling in a coverage GAP gets nulls even though an
    * earlier version exists. The dim here is j11's version history
    * thinned to odd versions (real gaps, exercising the expiry path);
    * zero-length versions are dropped on both engines (unmatchable
    * under half-open semantics, and the one instant they occupy must
    * not shadow the sweep).
    *
    * Scale shape — the j12 union+window formulation extended with
    * TOMBSTONES: version starts carry the attributes, version ends
    * carry a null-attribute state row, probes read the last state row
    * at-or-before them (`last(..., ignoreNulls)` over a rows frame;
    * ends sort before starts before probes at equal instants, so
    * boundary probes resolve exactly like the half-open predicate).
    * ONE user_id exchange + one sort for the whole join — the naive
    * interval theta-join plans as a per-user nested loop. The DuckDB
    * twin deliberately runs that structurally different correlated
    * interval join, so the differential checks semantics, not plan.
    */
  val j16_point_in_time: Q = (spark, dir) => {
    val kept = j11_scd2_history(spark, dir)
      .where(col("version_n") % 2 === 1)
      .where(col("valid_to").isNull || col("valid_to") > col("valid_from"))
    val nullSt = struct(lit(null).cast("long").as("version_n"),
      lit(null).cast("string").as("dim_type"))
    // start + end rows from ONE pass over the version subtree (two
    // separate selects would plan the j11 window chain twice — Catalyst
    // does not dedupe common subplans)
    val stateRows = kept.select(col("user_id"),
        explode(array(
          struct(unix_micros(col("valid_from")).as("tsu"), lit(0L).as("eid"),
            struct(col("version_n"), col("event_type").as("dim_type")).as("st")),
          struct(unix_micros(col("valid_to")).as("tsu"), lit(-1L).as("eid"),
            nullSt.as("st")))).as("r"))
      .where(col("r.tsu").isNotNull) // open versions emit no end row
      .select(col("user_id"), col("r.tsu").as("tsu"), lit(0).as("tag"),
        col("r.eid").as("eid"), col("r.st").as("st"))
    val probes = events(spark, dir).where(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        lit(1).as("tag"), col("event_id").as("eid"),
        // literally NULL (not a struct of nulls): probe rows must be
        // SKIPPED by ignoreNulls, while end rows' null-FIELD struct
        // participates and resets the carried attributes
        lit(null).cast("struct<version_n:bigint,dim_type:string>").as("st"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("tag"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    stateRows.unionByName(probes)
      .withColumn("cur", last(col("st"), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select(col("eid").as("event_id"), col("user_id"),
        col("cur.version_n").as("version_n"),
        col("cur.dim_type").as("dim_type"),
        col("cur.version_n").isNotNull.as("in_version"))
  }

  /** j17 — CDC CHANGELOG APPLY (batch MERGE materialization): compact
    * an ordered insert/update/delete changelog into the latest state
    * per key — the operation the reference's whole ODS layer exists to
    * feed (Maxwell rows land in Kafka, ods/KafkaToODS_M.scala:49-69
    * routes them, and every dim app then REPLAYS them into HBase/Redis
    * row-at-a-time; this is that replay as ONE declarative pass).
    * Semantics are Maxwell/Debezium partial-image: an `insert` sets
    * every column, an `update` carries ONLY the changed columns (the
    * rest arrive null and must not clobber), a `delete` tombstones the
    * key. Updates to a key that was never inserted (or whose last
    * marker is a delete) are DROPPED — applying them would resurrect
    * deleted rows, the classic CDC-apply bug.
    *
    * The changelog is derived deterministically from events: signup →
    * insert (full image), error → delete, purchase/click → update of
    * balance_c (purchase also re-segments to 'buyer'), view → update
    * of segment only. Apply shape: a running count of insert/delete
    * markers assigns each row a GENERATION; only the key's last
    * generation survives (an insert resets state — pre-reinsert
    * updates must not leak through), and within it each column takes
    * its last non-null value via `max(struct(tsu, eid, col))` filtered
    * to non-null rows. ONE user_id exchange total: the generation
    * window, the full-frame max and the final rollup all ride the same
    * hash distribution. The DuckDB twin uses a structurally different
    * arg_max-with-FILTER formulation, so the differential checks the
    * apply semantics, not the plan.
    */
  /** [[j17_cdc_apply]]'s apply step over an arbitrary changelog of
    * (user_id, tsu, eid, op, balance_c, segment) rows — exposed so the
    * spec can pin the generation-reset / dropped-orphan-update /
    * tombstone semantics on a hand-built log where the order is
    * controlled.
    */
  private[graft] def cdcApply(log: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ordered = W.partitionBy(col("user_id")).orderBy(col("tsu"), col("eid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = when(col("op").isin("insert", "delete"), 1L).otherwise(0L)
    val withGen = log
      .withColumn("gen", sum(boundary).over(ordered))
      .withColumn("last_gen", max(col("gen")).over(W.partitionBy(col("user_id"))))
      .where(col("gen") === col("last_gen") && col("last_gen") >= 1)
    def lastNonNull(c: String) =
      max(when(col(c).isNotNull, struct(col("tsu"), col("eid"), col(c))))
        .getField(c).as(c)
    withGen.groupBy(col("user_id"))
      .agg(max(when(col("op") =!= "update", col("op"))).as("opener"),
        lastNonNull("balance_c"), lastNonNull("segment"),
        count(lit(1)).as("n_ops"), max(col("tsu")).as("last_tsu"))
      .where(col("opener") === "insert")
      .select(col("user_id"), col("balance_c"), col("segment"),
        col("n_ops"), col("last_tsu"))
  }

  /** The deterministic events→changelog derivation shared by [[j17_cdc_apply]]
    * and its streaming twin st55 (a pure projection, so it applies to
    * the batch scan and the replay stream alike).
    */
  private[graft] def cdcLog(ev: DataFrame): DataFrame =
    ev.select(
      col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id").as("eid"),
      when(col("event_type") === "signup", "insert")
        .when(col("event_type") === "error", "delete")
        .otherwise("update").as("op"),
      when(col("event_type").isin("signup", "click", "purchase"),
        graft.Tables.cents(col("value")).cast("long")).as("balance_c"),
      when(col("event_type") === "signup", lit("new"))
        .when(col("event_type") === "purchase", lit("buyer"))
        .when(col("event_type") === "view",
          concat(lit("seg_"), col("event_id") % 5)).as("segment"))

  val j17_cdc_apply: Q = (spark, dir) =>
    cdcApply(cdcLog(events(spark, dir)))

  /** j18 — HIERARCHICAL FALLBACK JOIN (most-specific-key wins): each
    * document takes its rate from the most specific rate-card level
    * that covers it — (lang, source), else (lang), else the global
    * default — the config/rate-card resolution pattern every
    * enrichment layer needs (pricing tiers, sampling rates, model
    * routing tables) and plain equi-joins can't express alone. The
    * cards are built from the corpus itself (mean chars per key, in
    * exact integer div) with DETERMINISTIC coverage gaps — a third
    * of pairs and a quarter of langs are hash-dropped from their
    * cards — so all three levels resolve at any SF and the fixture
    * honestly models "the card has holes", which is the operator's
    * entire reason to exist.
    *
    * Scale shape: cards are aggregates of the fact table itself
    * (|keys| rows — broadcast), resolution is two broadcast LEFT
    * joins + one row-local coalesce cascade; the fact table is
    * scanned once for cards, once for resolution, never shuffled on
    * the card keys.
    */
  /** [[j18_fallback_join]]'s card set (pair, lang, global) built from
    * the batch corpus — shared with the ingest twin st64, which
    * resolves arriving rows against LAST night's cards.
    */
  private[graft] def fallbackCards(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val P = graft.functions.Portable
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    def meanChars = expr("CAST(sum(n_chars) div count(1) AS BIGINT)")
    val pairCard = docs.groupBy(col("lang"), col("source"))
      .agg(meanChars.as("rate_pair"))
      .where(P.hash60(concat(col("lang"), lit("|"), col("source"))) % 3 =!= 0)
    val langCard = docs.groupBy(col("lang"))
      .agg(meanChars.as("rate_lang"))
      .where(P.hash60(col("lang")) % 4 =!= 0)
    val globalCard = docs.agg(meanChars.as("rate_global"))
    (pairCard, langCard, globalCard)
  }

  /** The most-specific-wins resolution over any (doc_id, lang, source)
    * relation — row-local once the cards broadcast.
    */
  private[graft] def fallbackResolve(docs: DataFrame,
      cards: (DataFrame, DataFrame, DataFrame)): DataFrame =
    docs
      .join(broadcast(cards._1), Seq("lang", "source"), "left")
      .join(broadcast(cards._2), Seq("lang"), "left")
      .join(broadcast(cards._3), lit(true), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("rate_pair"), col("rate_lang"), col("rate_global")).as("rate"),
        when(col("rate_pair").isNotNull, "pair")
          .when(col("rate_lang").isNotNull, "lang")
          .otherwise("global").as("level"))

  val j18_fallback_join: Q = (spark, dir) =>
    fallbackResolve(
      documents(spark, dir).select(col("doc_id"), col("lang"), col("source")),
      fallbackCards(spark, dir))

  /** j12 — AS-OF JOIN (last-touch attribution): each purchase joined
    * to the SAME user's latest click at-or-before it — the operator
    * classic warehouses need (latest rate/dim-version/touchpoint at
    * event time) and Spark has no native form for. Null click columns
    * when no prior click exists (left semantics).
    *
    * Scale shape — the one-shuffle union+window formulation: tag both
    * sides, union, and carry the last click forward per user with
    * `last(..., ignoreNulls)` over (tsu, tag, event_id) rows-frames;
    * clicks sort before purchases at equal timestamps (at-or-before)
    * and ties break on event_id, so the pick is total-order
    * deterministic. ONE exchange on user_id + one sort — the naive
    * inequality join (`c.tsu <= p.tsu` + per-purchase max) plans as a
    * broadcast-nested-loop cross of the two sides, O(|C|·|P|) per
    * user; this is O((|C|+|P|) log) and survives 100 TB. The DuckDB
    * twin deliberately runs a DIFFERENT algorithm (correlated
    * latest-≤ top-1 per purchase) so the differential checks the
    * semantics, not the plan.
    */
  val j12_attribution_asof: Q = (spark, dir) => {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
    def side(t: String, tag: Int) = ev.where(col("event_type") === t)
      .select(col("user_id"), col("tsu"), lit(tag).as("tag"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    side("click", 0).unionAll(side("purchase", 1))
      .withColumn("click_id",
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_tsu",
        last(when(col("tag") === 0, col("tsu")), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("tsu"),
        col("click_id"), col("click_tsu"),
        (col("tsu") - col("click_tsu")).as("gap_us"))
  }

  /** a51 — ROBUST OUTLIER DAYS BY MAD (the median-absolute-deviation
    * rule; Hampel's identifier with an exact-integer threshold): w12's
    * rolling z-score breaks exactly when it's needed most — one huge
    * day inflates the mean AND the variance, masking itself — while
    * the median and MAD are 50%-breakdown robust. Both statistics are
    * PICKED lower-median order statistics (the a13/c05 exact-pick
    * discipline — no interpolation, no float), and the flag is the
    * exact integer compare |x − med| > 3·MAD. Emits every day with
    * its deviation and verdict (the audit shape, not a bare filter).
    *
    * Scale shape: one date rollup; the two ranking windows ride the
    * DAILY relation (calendar-bounded, not data volume — the w-family
    * bound); the three 1-row statistics broadcast.
    */
  val a51_mad_outliers: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("rev_cents"))
    val n1 = daily.agg(count(lit(1)).as("n"))
    val med = daily
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rev_cents"), col("dt"))).cast("long"))
      .join(broadcast(n1), lit(true), "inner")
      .where(col("rnk") === expr("(n + 1) div 2"))
      .select(col("rev_cents").as("med"))
    val dev = daily.join(broadcast(med), lit(true), "inner")
      .withColumn("adev", abs(col("rev_cents") - col("med")))
    val mad = dev
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("adev"), col("dt"))).cast("long"))
      .join(broadcast(n1), lit(true), "inner")
      .where(col("rnk") === expr("(n + 1) div 2"))
      .select(col("adev").as("mad"))
    dev.join(broadcast(mad), lit(true), "inner")
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
        col("rev_cents"), col("med"), col("adev"), col("mad"),
        (col("adev") > lit(3L) * col("mad")).as("is_outlier"))
  }

  /** Attribution window for [[j27_asof_tolerance]] (1 hour in µs). */
  private val AsofTolUs = 3600000000L

  /** j27 — AS-OF JOIN WITH TOLERANCE (pandas `merge_asof(tolerance=)`
    * / kdb `wj` semantics — the variant j12 deliberately leaves
    * unbounded): each purchase attributes to the user's latest
    * at-or-before click ONLY if it falls within [[AsofTolUs]];
    * staler matches null out but the purchase row survives — a
    * marketing attribution window, a sensor-reading staleness bound,
    * the difference between "last touch ever" and "last touch that
    * plausibly caused this". Same ONE-shuffle union+window
    * formulation as j12 (the tolerance is a row-local predicate on
    * the picked gap — being the LATEST match, any older match is
    * staler still, so filter-after-pick ≡ pick-within-window); the
    * DuckDB twin runs the structurally different correlated
    * bounded top-1, so the differential checks semantics, not plan.
    */
  val j27_asof_tolerance: Q = (spark, dir) => {
    val ev = events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
    def side(t: String, tag: Int) = ev.where(col("event_type") === t)
      .select(col("user_id"), col("tsu"), lit(tag).as("tag"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    side("click", 0).unionAll(side("purchase", 1))
      .withColumn("click_id",
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_tsu",
        last(when(col("tag") === 0, col("tsu")), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .withColumn("in_tol", col("click_tsu").isNotNull &&
        col("tsu") - col("click_tsu") <= AsofTolUs)
      .select(col("event_id"), col("user_id"), col("tsu"),
        when(col("in_tol"), col("click_id")).as("click_id"),
        when(col("in_tol"), col("click_tsu")).as("click_tsu"),
        when(col("in_tol"), col("tsu") - col("click_tsu")).as("gap_us"))
  }

  /** J13 — BLOOM-PRUNED JOIN: revenue per urgent order, with the
    * fact-side shuffle cut by a broadcast Bloom summary of the
    * dimension subset (the explicit form of Spark's own injected
    * runtime bloom filter, `InjectRuntimeFilter`). The premise this
    * models: at 100 TB the qualifying order-key SET (~20 % of orders)
    * is far past any broadcast threshold, yet its m-bit Bloom
    * ([[graft.functions.BloomAgg]] — 2²⁰ bits = 128 KB regardless of
    * n) broadcasts trivially; every lineitem scan task probes the
    * filter ([[graft.functions.BloomMightContain]], codegen'd) BEFORE
    * the exchange, so the orderkey shuffle carries ~20 % of the fact
    * table instead of all of it. The filter only PRUNES — false
    * positives are re-verified by the exact equi-join it guards
    * (hinted shuffle-hash, pinning the at-scale strategy the premise
    * implies; locally Spark would broadcast the small subset, which
    * is exactly the cheat that cannot exist at 100 TB), so the result
    * is exact and the oracle is the plain join. The groupBy(orderkey)
    * reuses the join's hash partitioning — ONE exchange on the fact
    * side, post-prune. No driver action: the single summary row rides
    * a bounded 1-row broadcast nested-loop join (the n03 contract),
    * never a collect.
    */
  val j13_bloom_prune_join: Q = (spark, dir) => {
    graft.plans.GraftExtensions.register(spark)
    val hot = orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    bloomPruneOf(lineitem(spark, dir), hot, hot.agg(
      graft.functions.BloomFilters.bloom(1 << 20)(col("o_orderkey")).as("bf")))
  }

  /** j13's fact-side Bloom probe and exact join: `bf` is the 1-row
    * summary relation carrying a `bf` struct with the filter `bits` —
    * st36 passes its served stream-built summary.
    */
  private[graft] def bloomPruneOf(fact: DataFrame, hot: DataFrame,
                                  bf: DataFrame): DataFrame = {
    val li = fact
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val pruned = li
      .join(broadcast(bf),
        graft.functions.BloomFilters.mightContain(col("bf.bits"), col("l_orderkey")))
      .select(li.columns.map(col): _*)
    pruned.join(hot.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  private val JoinBuckets = 8

  /** Cached bucketed-layout build per sfDir — the `indexPath`
    * convention: the FIRST consumer in a session pays the one-time
    * layout write (which does shuffle, once, at build time); every
    * later query joins shuffle-free. Table names carry a dir tag so
    * test and verify fixtures coexist in one catalog; data lands on
    * scratch (external tables), reclaimed at JVM exit.
    *
    * Nightly-vs-stream: this batch build is NOT forced by
    * `writeStream`'s missing `bucketBy` — [[graft.sinks
    * .BucketedStreamTable]] maintains the same layout incrementally
    * via `foreachBatch` appends (content, pruning and the
    * exchange-free plan all spec-locked); the designs compose as
    * stream-maintains / nightly-compacts (this build doubling as the
    * one-file-per-bucket compaction that restores the per-file sort).
    */
  private val bucketCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def bucketedTables(spark: SparkSession, dir: String): (String, String) =
    // Keyed per SparkContext: saveAsTable registers in the SESSION
    // catalog, so a cached name from a stopped context would dangle in
    // a fresh one (Bench restarts the session between query families).
    bucketCache.computeIfAbsent(
      s"${spark.sparkContext.applicationId}#$dir", _ => {
      // Collision-resistant dir tag: 32-bit hashCode could collide across
      // two sfDirs in one session, dropping each other's tables while the
      // per-dir cache served the stale name. md5 makes that impossible.
      val tag = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      val (evT, orT) = (s"graft_bkt_events_$tag", s"graft_bkt_orders_$tag")
      val p = graft.Tables.scratchDir("graft_bkt_")
      spark.sql(s"DROP TABLE IF EXISTS $evT")
      spark.sql(s"DROP TABLE IF EXISTS $orT")
      events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .repartition(JoinBuckets, col("user_id"))
        .write.bucketBy(JoinBuckets, "user_id").sortBy("user_id")
        .option("path", s"$p/events").mode("overwrite").saveAsTable(evT)
      orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .repartition(JoinBuckets, col("o_custkey"))
        .write.bucketBy(JoinBuckets, "o_custkey").sortBy("o_custkey")
        .option("path", s"$p/orders").mode("overwrite").saveAsTable(orT)
      (evT, orT)
    })

  /** J15 — BUCKETED CO-LOCATED JOIN: the storage-layout answer to the
    * fact⋈fact shuffle, completing the join-strategy set (broadcast =
    * j02, salted shuffle = j09, bloom-pruned shuffle = j13, bucketed =
    * this). Both tables are written ONCE bucketed on their join key
    * (`bucketBy(8)` + an explicit repartition so each bucket is one
    * compacted file — the same small-file discipline as
    * [[graft.sinks.Sinks.partitionedParquet]]); a bucketed scan then
    * reports hash-clustered output, so EnsureRequirements inserts NO
    * exchange anywhere in this plan: the per-customer order rollup
    * rides the bucket clustering, the sort-merge join (MERGE-hinted —
    * locally Catalyst would broadcast the small side, the cheat that
    * cannot exist when both facts are 100 TB) aligns bucket-to-bucket,
    * and the final projection is map-side. This is THE at-scale plan
    * for a join both of whose sides are too big to broadcast and
    * re-joined often enough to amortize one layout write — the
    * exchange moves from every query to the nightly table build.
    * `PlanSpec` locks zero ShuffleExchange nodes and the bucketed
    * scans. Bucketing changes layout, never content: the oracle is
    * the plain join over the raw parquet.
    */
  val j15_bucketed_join: Q = (spark, dir) => {
    val (evT, orT) = bucketedTables(spark, dir)
    val spend = spark.table(orT)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("user_spend"))
    spark.table(evT).hint("merge")
      .join(spend.hint("merge"), col("user_id") === col("o_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("n_orders"), col("user_spend"))
  }

  /** S11 — BUCKET-PRUNED POINT SCAN: the read-side dividend of j15's
    * layout — an equality filter on the bucket key scans ONE bucket's
    * files out of 8 (`SelectedBucketsCount: 1 out of 8`,
    * plan-spec-locked), because the key's bucket is computable from
    * the filter alone. At 100 TB this turns a needle-in-haystack user
    * lookup from a full scan into 1/N of one — the poor man's index,
    * paid for by the same nightly layout write the join amortizes.
    * The probed key is chosen deterministically (min customer id), so
    * the oracle is the same point select over raw parquet.
    */
  val s11_bucket_pruned_scan: Q = (spark, dir) => {
    val (_, orT) = bucketedTables(spark, dir)
    spark.table(orT)
      .where(col("o_custkey") === 1L)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("user_spend"))
  }

  /** A6 — salt-and-merge two-phase aggregation: the standard
    * skewed-key mitigation at scale (a hot brand would overload one
    * reducer; salting spreads it over 8 partial groups, the second
    * stage merges). Integer-cents partials are exact and
    * order-independent, so the result equals the direct a01
    * aggregation bit-for-bit — which is precisely what the oracle
    * checks. (AQE skew handling makes this automatic for joins; the
    * explicit form covers aggregation hot keys.)
    */
  val a06_salted_agg: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
    val p = part(spark, dir)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
      .groupBy(col("p_brand"), col("salt"))
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("part_cents"),
        count(lit(1)).as("part_n"))
      .groupBy(col("p_brand"))
      .agg(
        (sum(col("part_cents")) / 100).as("revenue"),
        sum(col("part_n")).as("n_lines"))
  }

  /** A7 — approximate DAU via a KMV bottom-k sketch
    * ([[graft.functions.MinK]] — a17's order statistic at a03's
    * grain): the sketch path for per-day distincts at 100 TB, where
    * the exact per-day shuffle of (dt, user) pairs (a03) is the
    * bottleneck. The udaf's partial buffers absorb repeated users and
    * collapse map-side to ≤ k (hash, id) pairs per (partition, day) —
    * the same wire profile as an HLL register bank — and min-k ∘ union
    * is associative, commutative and idempotent, so the merged sketch
    * and its estimate ((k−1)·2⁶⁰ / h₍ₖ₎, exact below k — a17's IEEE
    * parenthesization verbatim) are MERGE-TREE INDEPENDENT and
    * engine-portable. That is what buys this family's default
    * approx-distinct path a full cross-engine HASH oracle (r15 carried
    * it rows-only): DuckDB computes the identical order statistic.
    * Spark's built-in `approx_count_distinct` (HLL++, rsd 1% — the
    * tighter estimator at equal summary bytes) remains the documented
    * one-line alternative for deployments that don't need
    * engine-portable audits; its engine-private sketch is exercised
    * with an exact-regime oracle twin by the a20/a20x pair, and the
    * exact twin a03 anchors both lanes.
    */
  val a07_dau_approx: Q = (spark, dir) => {
    val k = KmvK
    val h = graft.functions.Portable.hash60(
      concat(lit("kmv:"), col("user_id").cast("string")))
    val kth = element_at(col("s.items"), size(col("s.items"))).getField("h")
    events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"),
        col("user_id"), h.as("h"))
      .groupBy(col("dt"))
      .agg(graft.functions.MinK.minK(k)(col("h"), col("user_id")).as("s"))
      .select(col("dt"),
        when(size(col("s.items")) < k, size(col("s.items")).cast("long"))
          .otherwise(floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            kth.cast("double")).cast("long")).as("dau_approx"))
  }

  /** a20 — SKETCH REAGGREGATION: weekly approximate distinct users
    * assembled by MERGING stored daily HLL sketches
    * (hll_sketch_agg → hll_union_agg, the Apache DataSketches pair) —
    * the warehouse pattern a07 only hints at: land one ~kB sketch per
    * (day), answer ANY date-range distinct question later by merging
    * sketches instead of re-scanning raw events. At 100 TB the daily
    * sketch table is the difference between a week-over-week WAU
    * query touching kilobytes and touching the event history. Like
    * a07 (DuckDB's HLL is a different sketch) there is no cross-engine
    * oracle — the driver records the rows-only check and the spec
    * bounds the weekly estimates against the exact distinct (a03's
    * discipline) and locks merge-path identity: union-of-daily equals
    * the directly-built weekly sketch.
    */
  val a20_sketch_reagg: Q = (spark, dir) => {
    val daily = events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .groupBy(col("dt"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    daily
      .withColumn("wk", date_format(date_trunc("week", col("dt").cast("date")),
        "yyyy-MM-dd"))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), true)).as("wau_approx"))
  }

  /** a20x — THE HLL RE-AGGREGATION IN ITS EXACT REGIME, hash-oracle-
    * checked (the a14x/a15x pattern completing the sketch trio's exact
    * twins): the user domain is filtered to < 200 distincts, so every
    * daily sketch and every weekly union stays in DataSketches'
    * coupon (LIST/SET) mode — far below the lgK=12 promotion
    * threshold (~3·2¹⁰ coupons) — where the stored summary IS the
    * exact coupon set under ANY merge tree and `hll_sketch_estimate`
    * returns the exact distinct count as an integral long (verified:
    * the estimate equals COUNT(DISTINCT) bit-for-bit on this regime).
    * This pins the ENTIRE daily-sketch → weekly-union merge path —
    * encoder, serialize, union, estimate — cross-engine against
    * DuckDB's plain exact distinct; only the dense-register branch
    * stays spec-bounded (a20), now a genuinely estimation-dependent
    * residue. A coupon-hash collision inside the 200-user domain
    * (p ≈ 2·10⁻⁴ at 2²⁶ coupon space) would surface loudly as a
    * hash mismatch, not silently.
    */
  val a20x_sketch_reagg_exact: Q = (spark, dir) => {
    val daily = events(spark, dir)
      .where(col("user_id") < 200L)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
      .groupBy(col("dt"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
    daily
      .withColumn("wk", date_format(date_trunc("week", col("dt").cast("date")),
        "yyyy-MM-dd"))
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"), true)).as("wau"))
  }

  /** a42 — JOIN-SIZE FORECAST (a21's companion, the other half of the
    * shuffle-planning decision): before anyone runs `events ⋈ orders`
    * on the customer key, this predicts its EXACT output cardinality
    * from per-key counts — for an equi-join, |A⋈B| = Σ_k cA(k)·cB(k),
    * an identity, not an estimate — plus where that volume sits: the
    * hottest key's product and its per-mille share of the join (one
    * key carrying >some threshold of the output is the AQE-skew /
    * salting trigger BEFORE the join runs, when mitigation is still a
    * plan choice rather than a stage autopsy). Emits one row; per-side
    * volumes ride along so fan-out ratio is derivable.
    *
    * Scale shape: two independent key rollups (each ONE map-side-
    * partial shuffle of its own table), an equi-join of two ≤|keys|
    * relations, a 1-row rollup. The joined-table volume this predicts
    * is never materialized — that is the point.
    */
  val a42_join_size_forecast: Q = (spark, dir) => {
    val ec = events(spark, dir).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("ce"))
    val oc = orders(spark, dir).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("co"))
    // prod and its sum ride decimal(38,0) so the explosive-join regime
    // this forecast exists to detect can never silently wrap (ANSI
    // long×long would throw mid-agg; non-ANSI would wrap — both worse
    // than a wide accumulator). The BIGINT output casts are loud on
    // both engines: a forecast past 9.2e18 rows fails the cast rather
    // than lying, and at that magnitude the verdict is "don't run the
    // join" regardless of the exact count.
    ec.join(oc, Seq("k"))
      .select(col("k"),
        (col("ce").cast("decimal(19,0)") * col("co")).as("prod"),
        col("ce"), col("co"))
      .agg(count(lit(1)).as("n_keys_common"),
        sum(col("ce")).as("left_rows"),
        sum(col("co")).as("right_rows"),
        sum(col("prod")).as("join_rows_dec"),
        max(col("prod")).as("top_key_rows_dec"))
      .withColumn("top_share_pm",
        expr("cast(top_key_rows_dec * 1000 div join_rows_dec as bigint)"))
      .select(col("n_keys_common"), col("left_rows"), col("right_rows"),
        col("join_rows_dec").cast("bigint").as("join_rows"),
        col("top_key_rows_dec").cast("bigint").as("top_key_rows"),
        col("top_share_pm"))
  }

  /** w15 — HOT-STREAK ISLANDS: maximal runs of CONSECUTIVE calendar
    * days with revenue above the corpus median — the "N straight days
    * above trend" relation reporting and anomaly triage both ask for.
    * The median is a13's exactly-picked order statistic (rank ⌈n/2⌉
    * under the total (rev, dt) order — no interpolation, no float),
    * broadcast as one row; runs form by the classic island key
    * (epoch_day − row_number is constant exactly on calendar-
    * consecutive days, so a missing day BREAKS the streak — the w10
    * gap discipline), and only streaks ≥ 3 days emit.
    *
    * Scale shape: one dt rollup is the only data-volume exchange; the
    * rank pick, island key and run rollup all ride the
    * calendar-bounded daily relation (unpartitioned windows — the
    * w-family bound).
    */
  val w15_hot_streaks: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("rev_cents"))
      .withColumn("ed",
        datediff(col("dt"), lit("1970-01-01").cast("date")).cast("long"))
    val n = daily.agg(count(lit(1)).as("n"))
    val med = daily
      .withColumn("r", row_number().over(
        Window.orderBy(col("rev_cents"), col("dt"))).cast("long"))
      .join(broadcast(n), lit(true), "inner")
      .where(col("r") === expr("cast(ceil(n / 2.0) as bigint)"))
      .select(col("rev_cents").as("med_cents"))
    daily.join(broadcast(med), lit(true), "inner")
      .where(col("rev_cents") > col("med_cents"))
      .withColumn("grp",
        col("ed") - row_number().over(Window.orderBy(col("ed"))))
      .groupBy(col("grp"))
      .agg(date_format(min(col("dt")), "yyyy-MM-dd").as("start_dt"),
        date_format(max(col("dt")), "yyyy-MM-dd").as("end_dt"),
        count(lit(1)).as("len_days"),
        sum(col("rev_cents")).as("streak_cents"))
      .where(col("len_days") >= 3)
      .drop("grp")
  }

  /** a43 — WEEKDAY SEASONAL INDEX: each weekday's revenue level as an
    * exact per-mille of the overall daily mean — the seasonal-index
    * relation (ratio-to-average) that prices "Mondays run at 96.2 %"
    * for staffing/alerting, and the denominator a30-style residual
    * monitors normalize by. The ratio mean_g/mean computes entirely in
    * integers by cross-multiplication — (S_g·N·1000) div (n_g·S) —
    * so no float mean ever forms (the a33 discipline); the spread
    * between the max and min index is the seasonality-strength scalar
    * and rides along per row.
    *
    * Scale shape: one dt rollup (map-side partial) is the only
    * data-volume exchange; the weekday re-aggregation and the 1-row
    * total broadcast ride the calendar-bounded daily relation; output
    * is 7 rows.
    */
  val a43_weekday_index: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("rev_cents"))
    val byDow = daily
      .groupBy(dayofweek(col("dt")).cast("long").as("dow1"))
      .agg(count(lit(1)).as("n_days"), sum(col("rev_cents")).as("rev_sum"))
    val tot = byDow.agg(sum(col("n_days")).as("n_total"),
      sum(col("rev_sum")).as("rev_total"))
    val idx = byDow.join(broadcast(tot), lit(true), "inner")
      .select(col("dow1"), col("n_days"), col("rev_sum"),
        expr("cast(cast(rev_sum as decimal(38,0)) * n_total * 1000" +
          " div (cast(n_days as decimal(38,0)) * rev_total) as bigint)")
          .as("index_pm"))
    val spread = idx.agg((max(col("index_pm")) - min(col("index_pm")))
      .as("spread_pm"))
    idx.join(broadcast(spread), lit(true), "inner")
  }

  /** BUCKETED GLOBAL PREFIX — total-order `row_number` and inclusive
    * prefix sum over a DATA-VOLUME relation without ever moving it to
    * one partition (the scale-out replacement for the unpartitioned
    * `Window.orderBy` the w-family only ever runs on bounded
    * relations): (1) `percentile_approx` picks ≤ `nBuckets`−1 value
    * boundaries in one pass (any monotone boundary set yields the SAME
    * final ranks — the split only balances work, so the sketch's
    * approximation is invisible to the result); (2) each row's bucket
    * = boundaries strictly below its key (monotone in the key, ties
    * co-bucketed); (3) per-bucket row/value totals roll into EXCLUSIVE
    * offsets via one window over ≤ `nBuckets` rows; (4) the global
    * rank/prefix is offset + the within-bucket window PARTITIONED by
    * bucket. Net: two small exchanges plus one bucket-keyed window —
    * a 1000-executor sort, not a single-partition drain. Heavy key
    * skew (many rows sharing one value) collapses into one bucket;
    * the dominant-value share bounds that partition exactly as it
    * bounds any hash partition.
    *
    * Output adds `bkt`, `rnk` (1-based by (`sortKey`, `tie`) asc) and
    * `cum_<value>` (inclusive prefix sum in that order).
    */
  private[graft] def bucketedPrefix(df0: DataFrame, sortKey: String,
      tie: String, value: String, nBuckets: Int = 32,
      cut: Boolean = true): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    // Lineage-cut the input ONCE (the t41 discipline, applied at the
    // primitive): four consumers read `df` (the boundary sketch, the
    // bucketed main path, the offset rollup, and — through them — the
    // caller's joins), and without the cut each re-derives the whole
    // upstream relation from its own fact scan (the whole-surface scan
    // audit measured w17/a45/a47 at 5 fact scans apiece, t42 at 4; all
    // are 1 post-cut, 8-19% faster at sf0.1). The cut is CLEARLY right
    // only when the input is a KEY-GRAIN ROLLUP (dim-sized at any
    // SF — kilobytes checkpointed where the re-scans were the fact).
    // A FACT-SCALE input trades differently: the checkpoint pins the
    // whole relation in executor storage (2·|events| boundary rows —
    // at 100 TB that is a second copy of the fact living in the
    // cluster for the query's lifetime) against stateless re-scans
    // that parquet pushdown prunes to two columns; sf0.1 timings of
    // the two variants sit inside the ambient noise band, so the
    // sweep-line family opts out (`cut = false`) on the storage
    // argument and keeps its adjudicated multi-scan shape.
    val df = if (cut) df0.localCheckpoint(false) else df0
    val fracs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val bnds = df.agg(
      expr(s"percentile_approx($sortKey, array(${fracs.mkString(",")}), 10000)")
        .as("bnds"))
    val bucketed = df.join(broadcast(bnds), lit(true), "inner")
      .withColumn("bkt",
        expr(s"cast(size(filter(bnds, x -> x < $sortKey)) as bigint)"))
      .drop("bnds")
    val wOff = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = bucketed.groupBy(col("bkt"))
      .agg(count(lit(1)).as("b_n"), sum(col(value)).as("b_v"))
      .select(col("bkt"),
        coalesce(sum(col("b_n")).over(wOff), lit(0L)).as("off_n"),
        coalesce(sum(col("b_v")).over(wOff), lit(0L)).as("off_v"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col(sortKey), col(tie))
    bucketed.join(broadcast(off), Seq("bkt"))
      .withColumn("rnk",
        (col("off_n") + row_number().over(wIn)).cast("long"))
      .withColumn(s"cum_$value",
        col("off_v") + sum(col(value))
          .over(wIn.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("off_n", "off_v")
  }

  /** w17 — GLOBAL SPEND RANK AT DATA VOLUME: every customer's exact
    * global rank, cumulative-spend share (per-mille) and top-decile
    * flag — the leaderboard/percentile relation that naively costs a
    * single-partition `row_number() OVER (ORDER BY spend)` drain,
    * computed here by [[bucketedPrefix]] so the sort scales out. The
    * DuckDB twin IS the naive global window — the differential proves
    * the bucketed decomposition reproduces the drain's answer row for
    * row (boundary placement provably cancels out).
    *
    * Scale shape: one custkey rollup, one 1-row boundary broadcast,
    * one bucket-keyed window; the only unpartitioned window rides the
    * ≤32-row bucket-offset relation.
    */
  val w17_global_rank: Q = (spark, dir) => {
    val spend = orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("spend_cents"))
    val tot = spend.agg(sum(col("spend_cents")).as("tot_cents"),
      count(lit(1)).as("n_total"))
    bucketedPrefix(spend, "spend_cents", "custkey", "spend_cents")
      .join(broadcast(tot), lit(true), "inner")
      .select(col("custkey"), col("spend_cents"), col("rnk"),
        (col("rnk") * 10 > col("n_total") * 9).as("is_top_decile"),
        expr("cast(cast(cum_spend_cents as decimal(38,0)) * 1000" +
          " div tot_cents as bigint)").as("cum_share_pm"))
  }



  /** a45 — PARETO/ABC CLASSIFICATION over part revenue: parts ranked
    * by revenue descending, each carrying its exact cumulative revenue
    * share (per-mille) and the classic warehouse class — A while the
    * running share ≤ 800 ‰, B to 950 ‰, C after — the "20 % of SKUs
    * carry 80 % of revenue" relation assortment and slotting decisions
    * read. Parts scale with the catalog (TPC-H scales them with SF),
    * so the descending cumulative sum runs through [[bucketedPrefix]]
    * on the NEGATED revenue key (ascending negation ≡ descending
    * revenue; partkey ties ascending on both engines) — no
    * single-partition window at any size.
    *
    * Scale shape: one partkey rollup, then bucketedPrefix's two small
    * exchanges; share arithmetic promotes to decimal before the ×1000.
    */
  val a45_pareto_abc: Q = (spark, dir) => {
    val rev = lineitem(spark, dir)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(cents(col("l_extendedprice")).cast("long")).as("rev_cents"))
      .withColumn("neg_rev", -col("rev_cents"))
    val tot = rev.agg(sum(col("rev_cents")).as("tot_cents"))
    bucketedPrefix(rev, "neg_rev", "partkey", "rev_cents")
      .join(broadcast(tot), lit(true), "inner")
      .withColumn("cum_share_pm",
        expr("cast(cast(cum_rev_cents as decimal(38,0)) * 1000" +
          " div tot_cents as bigint)"))
      .select(col("partkey"), col("rev_cents"), col("rnk"),
        col("cum_share_pm"),
        when(col("cum_share_pm") <= 800, "A")
          .when(col("cum_share_pm") <= 950, "B")
          .otherwise("C").as("abc"))
  }

  /** j22 — SWEEP-LINE MAX CONCURRENCY: per calendar day, the peak
    * number of simultaneously-open activity windows (each event opens
    * a half-open 1-hour window [ts, ts+1h)) — the load-sizing relation
    * capacity planning reads. The sweep line is THE textbook
    * global-order computation: ±1 boundary deltas in (instant,
    * end-before-start, event_id) order, running-summed — and the
    * running sum rides [[bucketedPrefix]], so the data-volume prefix
    * never drains to one partition. The tie key packs
    * (delta, event_id) into one long (ends sort before starts at an
    * instant — half-open semantics; the 2⁴⁰ shift leaves event_id
    * headroom far past any SF). A day's max is taken over the
    * concurrency level AT that day's boundary instants (a day with no
    * boundaries has no row — missing stays missing).
    *
    * Scale shape: one union projection, bucketedPrefix's two small
    * exchanges + bucket-keyed window, one dt rollup.
    */
  val j22_max_concurrency: Q = (spark, dir) => {
    bucketedPrefix(sweepBounds(spark, dir), "tsu", "tie", "delta",
        cut = false) // fact-scale input: see bucketedPrefix's cut note
      .groupBy(date_format(to_date(timestamp_micros(col("tsu"))), "yyyy-MM-dd")
        .as("dt"))
      .agg(max(col("cum_delta")).as("max_concurrent"),
        count(lit(1)).as("n_bounds"))
  }

  /** The ±1 sweep-line boundary relation j22/j23 share: each event
    * opens [ts, ts+1h); the tie key packs (delta, event_id) so ends
    * sort before starts at an instant (half-open semantics).
    */
  private def sweepBounds(spark: SparkSession, dir: String,
      windowUs: Long = 3600000000L): DataFrame = {
    val ev = events(spark, dir)
      .select(unix_micros(col("ts")).as("tsu0"), col("event_id"))
    ev.select(col("tsu0").as("tsu"), lit(1L).as("delta"), col("event_id"))
      .unionAll(ev.select((col("tsu0") + windowUs).as("tsu"),
        lit(-1L).as("delta"), col("event_id")))
      .withColumn("tie", (col("delta") + 1L) * lit(1L << 40) + col("event_id"))
  }

  /** j23 — INTERVAL-UNION COVERAGE: per calendar day, the total time
    * (micros) covered by AT LEAST ONE open activity window — the
    * uptime/SLA/"how much of the day had traffic" relation, i.e. the
    * measure of the interval UNION (overlaps counted once), which no
    * per-interval sum can produce. On j22's sweep line a stretch is
    * covered exactly while the running level is > 0, so coverage =
    * Σ (next boundary − boundary) over positive-level stretches. The
    * successor boundary comes from a RANK-KEYED SELF-JOIN on
    * [[bucketedPrefix]]'s global rank (rnk+1 — an equi-join, the
    * scale-safe `lead`), and a stretch spanning midnight splits by
    * exploding its calendar days and clipping to each day's micro
    * bounds — exact integer arithmetic throughout.
    *
    * Scale shape: bucketedPrefix's exchanges + one rnk equi-join
    * (both sides already carry rnk) + one bounded per-stretch day
    * explode (stretches are 1 h windows — ≤ 2 days each) + one dt
    * rollup. No unpartitioned window, no lead over the data volume.
    */
  val j23_interval_coverage: Q = (spark, dir) => {
    clipStretchDays(sweepStretches(spark, dir).where(col("cum_delta") > 0))
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("dt"))
      .agg(sum(col("cov")).as("covered_us"))
  }

  /** The (tsu, next_tsu, cum_delta) boundary-stretch relation j23/j24
    * share: [[bucketedPrefix]]'s global rank + the rnk+1 equi-join as
    * the scale-safe `lead`. Zero-length stretches (distinct boundary
    * ties at one instant) drop; the relation covers only the span
    * BETWEEN the first and last boundary — outside it, coverage is
    * undefined, not zero.
    */
  private def sweepStretches(spark: SparkSession, dir: String,
      windowUs: Long = 3600000000L): DataFrame = {
    val pref = bucketedPrefix(sweepBounds(spark, dir, windowUs),
      "tsu", "tie", "delta",
      cut = false) // fact-scale input: see bucketedPrefix's cut note
      .select(col("tsu"), col("rnk"), col("cum_delta"))
    val nxt = pref.select((col("rnk") - 1L).as("rnk"),
      col("tsu").as("next_tsu"))
    pref.join(nxt, Seq("rnk")).where(col("next_tsu") > col("tsu"))
  }

  /** Explode a stretch across its calendar days and clip to each
    * day's micro bounds (stretches are ≤ 1 h + a midnight — ≤ 2 days).
    */
  private def clipStretchDays(stretches: DataFrame): DataFrame =
    stretches
      .select(col("tsu"), col("next_tsu"),
        explode(expr("sequence(to_date(timestamp_micros(tsu))," +
          " to_date(timestamp_micros(next_tsu - 1)))")).as("d"))
      .withColumn("day_us", unix_micros(col("d").cast("timestamp")))
      .select(col("d"),
        (least(col("next_tsu"), col("day_us") + 86400000000L) -
          greatest(col("tsu"), col("day_us"))).as("cov"))

  /** j24 — LONGEST QUIET GAP PER DAY: the dual of j23 on the same
    * sweep line — per calendar day, the longest stretch with ZERO
    * open activity windows and the count of quiet stretches touching
    * the day — the "how long did ingest go dark" relation an
    * availability postmortem reads next to j23's coverage. Quiet
    * stretches exist only BETWEEN observed boundaries (before the
    * first/after the last event the line isn't observed — undefined,
    * not quiet), and a gap spanning midnight contributes its
    * within-day portion to each side (clipped exactly like j23's
    * covered stretches). The activity window is 60 s here (the
    * liveness question), not j23's 1 h (the engagement question) —
    * at the fixture's event density 1 h windows provably never close,
    * which would verify a zero-row relation.
    *
    * Scale shape: identical to j23 — shared stretch relation, one dt
    * rollup.
    */
  val j24_max_quiet_gap: Q = (spark, dir) => {
    clipStretchDays(sweepStretches(spark, dir, windowUs = 60000000L)
      .where(col("cum_delta") === 0))
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("dt"))
      .agg(max(col("cov")).as("max_quiet_us"),
        count(lit(1)).as("n_quiet"))
  }

  /** a47 — WEIGHTED QUARTILES AT DATA VOLUME: the quantity-weighted
    * price quartiles over lineitem ("half the UNITS sold at or below
    * what price?") — the weighted picked order statistic that
    * classically needs a global sort over the fact table, here riding
    * [[bucketedPrefix]]'s cumulative weight: quartile q's value is
    * the price at the FIRST stretch where 4·cumWeight ≥ q·W (integer
    * cross-multiplication — no W/4 float ever forms), picked by
    * `min_by` over the strictly-increasing cum (quantities are ≥ 1,
    * so cum is injective and the pick deterministic). Ties in price
    * break on the packed (orderkey, linenumber) line id — unique at
    * any SF inside the ×16 shift's headroom.
    *
    * Scale shape: one projection, bucketedPrefix's exchanges, a
    * 3-row quartile broadcast (bounded nested-loop by construction)
    * and a 3-group rollup. No global sort.
    */
  val a47_weighted_quartiles: Q = (spark, dir) => {
    val li = lineitem(spark, dir).select(
      cents(col("l_extendedprice")).cast("long").as("price_cents"),
      col("l_quantity").cast("long").as("qty"),
      (col("l_orderkey") * 16 + col("l_linenumber")).as("tie"))
    val tot = li.agg(sum(col("qty")).as("w_total"))
    val qs = spark.range(1, 4).select(col("id").as("quartile"))
    bucketedPrefix(li, "price_cents", "tie", "qty")
      .join(broadcast(tot), lit(true), "inner")
      .join(broadcast(qs), expr("4 * cum_qty >= quartile * w_total"))
      .groupBy(col("quartile"), col("w_total"))
      .agg(expr("min_by(price_cents, cum_qty)").as("value_cents"))
  }

  /** a46 — EXACT GINI COEFFICIENT of customer spend, in per-mille —
    * the one-number inequality/concentration metric revenue-risk and
    * fairness dashboards ask for. Uses the sorted-vector identity
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over the ascending
    * (spend, custkey) order; ties contribute identically under any
    * tie order (equal x), so the custkey tie-break changes nothing.
    * The global ranks come from [[bucketedPrefix]] — no
    * single-partition sort — and every term is an integer/decimal
    * cross-multiplication (the a33 discipline): no float forms until
    * nothing is left to diverge.
    *
    * Scale shape: one custkey rollup, bucketedPrefix's exchanges, one
    * 1-row final aggregate; Σ rnk·x promotes to decimal(38,0)
    * (rnk·x ≤ 10²⁰ per row, 10³⁰ summed at 10 B customers — inside
    * the 38-digit envelope).
    */
  val a46_gini: Q = (spark, dir) => {
    val spend = orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("spend_cents"))
    bucketedPrefix(spend, "spend_cents", "custkey", "spend_cents")
      .agg(
        sum(expr("cast(rnk as decimal(38,0)) * spend_cents")).as("srx"),
        sum(col("spend_cents")).as("sx"),
        count(lit(1)).as("n"))
      .select(
        expr("cast((2 * srx - (cast(n as decimal(38,0)) + 1) * sx) * 1000" +
          " div (cast(n as decimal(38,0)) * sx) as bigint)").as("gini_pm"),
        col("n").cast("long").as("n_users"),
        col("sx").as("total_cents"))
  }

  /** a50 — NEW vs RETURNING REVENUE SPLIT by month: every order
    * classified by whether it falls in its customer's FIRST month
    * (w16's cohort instant), with per-month order counts, revenue
    * cents for each class, and the new-revenue share in exact
    * per-mille — the acquisition-vs-retention decomposition every
    * growth report opens with, and the denominator w16's retention
    * triangle implies. Same-month repeat orders count as "new"
    * (month grain — the cohort's own convention).
    *
    * Scale shape: one custkey rollup for cohorts, one custkey join
    * (same key — co-partitioned), one calendar-bounded month rollup;
    * share promotes to decimal before the ×1000.
    */
  val a50_new_vs_returning: Q = (spark, dir) => {
    val om = orderMonthsOf(orders(spark, dir))
    newShareOf(newVsRetOf(om, om))
  }

  /** a50's (custkey, order month, cents) projection of orders. */
  private[graft] def orderMonthsOf(o: DataFrame): DataFrame =
    o.select(col("o_custkey").as("custkey"),
      trunc(to_date(col("o_orderdate")), "month").as("m"),
      cents(col("o_totalprice")).cast("long").as("c"))

  /** a50's per-month new/returning counts and cents: `om` is judged
    * against the cohort month of each customer in `all` — st88
    * upserts them from its order stream against the static table.
    */
  private[graft] def newVsRetOf(om: DataFrame, all: DataFrame): DataFrame = {
    val cohort = all.groupBy(col("custkey")).agg(min(col("m")).as("m0"))
    om.join(cohort, Seq("custkey"))
      .withColumn("is_new", col("m") === col("m0"))
      .groupBy(date_format(col("m"), "yyyy-MM").as("m"))
      .agg(sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_ret"),
        sum(when(col("is_new"), col("c")).otherwise(0L)).as("rev_new"),
        sum(when(!col("is_new"), col("c")).otherwise(0L)).as("rev_ret"))
  }

  /** a50's per-mille new-customer revenue share — st88 runs it on
    * read.
    */
  private[graft] def newShareOf(months: DataFrame): DataFrame =
    months.select(col("m"), col("n_new"), col("n_ret"), col("rev_new"),
      col("rev_ret"),
      expr("cast(cast(rev_new as decimal(38,0)) * 1000" +
        " div (rev_new + rev_ret) as bigint)").as("new_share_pm"))

  /** j26 — ORDER FULFILLMENT LEAD TIME by month: per order month, how
    * many orders, total line items, and the exact average days from
    * order date to the order's LAST ship date (the fulfillment-
    * complete instant — max over lines, not min: a 9-line order isn't
    * fulfilled until its slowest line ships) — the ops-health series
    * procurement reads next to a43's seasonal index. The average
    * stays integral: total lead-days div orders (per-mille variant
    * alongside), no float mean.
    *
    * Scale shape: one orderkey exchange shared by the max-rollup and
    * the join (same key — co-partitioned), then a calendar-bounded
    * month rollup.
    */
  val j26_lead_time: Q = (spark, dir) => {
    val lastShip = lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        max(to_date(col("l_shipdate"))).as("last_ship"))
    orders(spark, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(date_format(col("od"), "yyyy-MM").as("m"), col("n_lines"),
        datediff(col("last_ship"), col("od")).cast("long").as("lead_d"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n_lines")).as("n_lines"),
        sum(col("lead_d")).as("lead_days_sum"))
      .select(col("m"), col("n_orders"), col("n_lines"),
        col("lead_days_sum"),
        expr("lead_days_sum div n_orders").as("avg_lead_d"),
        expr("lead_days_sum * 1000 div n_orders").as("avg_lead_mpd"))
  }

  /** w21 — EWMA WITH EXACT DYADIC WEIGHTS (α = 1/2, truncated at
    * [[EwmaDepth]] terms): the time-series smoother, made hash-exact
    * cross-engine by arithmetic design rather than tolerance. A
    * general EWMA is a float recurrence whose `pow(1-α, k)` weights
    * diverge across libm implementations; with α = 1/2 every weight is
    * a POWER OF TWO, so each term `lag(cents,i)/2^(i+1)` is an exact
    * dyadic rational — a multiple of 2^-16 — and for cents < 2^37
    * every partial sum fits the 53-bit mantissa exactly, making the
    * sum associative: bit-identical on any engine in any summation
    * order (property-locked in SmootherSpec, which REFUTED the first
    * draft's 2^40 bound at the 1-ulp level; beyond 2^37 parity still
    * holds because both sides evaluate the same pinned left-assoc
    * chain). The truncation at 16 terms bounds both the
    * arithmetic (the exactness argument above) and the plan (16 lags
    * over one window, one pass); the dropped tail weight is 2^-16 of
    * the signal — below the cents resolution at this scale.
    *
    * Scale shape: daily grain per priority — the window partitions by
    * priority and orders by a CALENDAR-bounded axis (the w19/w20
    * discipline): partition size = |days|, never data-volume.
    */
  val w21_ewma: Q = (spark, dir) => ewmaOf(dailyRevOf(orders(spark, dir)))

  /** w21's per-(priority, day) revenue grain — st95 upserts it from
    * its order stream.
    */
  private[graft] def dailyRevOf(o: DataFrame): DataFrame =
    o.groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("dt"))
      .agg(sum(graft.Tables.cents(col("o_totalprice")).cast("long"))
        .as("rev_cents"))

  /** w21's dyadic smoother over the daily grain — st95 runs it on
    * read.
    */
  private[graft] def ewmaOf(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("priority")).orderBy(col("dt"))
    val ewma = (0 until EwmaDepth).map { i =>
      coalesce(lag(col("rev_cents"), i).over(w), lit(0L)).cast("double") /
        lit(1L << (i + 1))
    }.reduce(_ + _)
    daily.select(col("priority"), col("dt"), col("rev_cents"),
      ewma.as("ewma16"))
  }

  private[graft] val EwmaDepth = 16

  /** w22 — EXACT 7-DAY ROLLING MEDIAN: the robust rolling smoother
    * beside w21's EWMA (a single outlier day saturates a mean; the
    * median shrugs it off) — and a window ORDER STATISTIC, which no
    * built-in window aggregate computes exactly. The trailing
    * neighborhood is materialized by a 7-row broadcast offset grid
    * (each day CONTRIBUTES to dt..dt+6, then an inner join back to
    * real days keeps only targets that exist — missing calendar days
    * shrink the window rather than injecting zeros), and the median is
    * the PICKED lower order statistic `sorted[(n+1) div 2]` over the
    * ≤7-element sorted collect — the a51 pick discipline: an element
    * of the data, no interpolation, no float. The DuckDB twin runs the
    * structurally different correlated BETWEEN form.
    *
    * Scale shape: the grid join is a broadcast fan-out of 7 (no
    * shuffle), then ONE groupBy on (priority, day) with ≤7-element
    * bounded collects; state never exceeds |priorities|·|days|·7.
    */
  val w22_rolling_median: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("dt"))
      .agg(sum(graft.Tables.cents(col("o_totalprice")).cast("long"))
        .as("rev_cents"))
    val offsets = spark.range(0, 7).select(col("id").cast("int").as("off"))
    val contrib = daily.join(broadcast(offsets), lit(true))
      .select(col("priority").as("cp"), date_add(col("dt"), col("off")).as("tdt"),
        col("rev_cents").as("cv"))
    daily.join(contrib, col("priority") === col("cp") && col("dt") === col("tdt"))
      .groupBy(col("priority"), col("dt"))
      .agg(max(col("rev_cents")).as("rev_cents"), // 1 value per (p,dt) key
        count(lit(1)).as("n_window"),
        array_sort(collect_list(col("cv"))).as("arr"))
      .select(col("priority"), col("dt"), col("rev_cents"), col("n_window"),
        element_at(col("arr"),
          ((col("n_window") + 1) / 2).cast("int")).as("med_cents"))
  }

  /** w23 — THEIL–SEN ROBUST TREND: the median of all pairwise daily
    * slopes per priority — the robust-regression counterpart to a34's
    * OLS (one crazy day drags a least-squares slope; the median of
    * pairwise slopes has a 29% breakdown point). Exactness: each
    * slope is quantized ONCE to integer micro-cents/day
    * (`(Δcents·10^6) div Δdays` — exact integer arithmetic, products
    * < 2^53-safe by the daily-cents envelope), and the median is the
    * PICKED lower order statistic via row_number over an injective
    * ordering (slope, day_a, day_b) — no float sort of rationals, no
    * interpolation (the a47/a51 pick discipline).
    *
    * Scale shape: the trend window is ONE YEAR (1997 — a trend fit
    * across regime boundaries is statistically meaningless anyway),
    * so the pairwise-slope relation is ≤C(365,2)·|priorities| ≈ 330k
    * rows, SF-INVARIANT (calendar-bounded: more data changes the
    * daily sums, not the pair count); the per-priority rank window
    * rides that bounded relation and the only fact-sized work is the
    * daily rollup. (The unwindowed variant was measured at 13 s at
    * sf0.1 — a 2.9M-row single-partition rank per priority — and
    * rejected; a multi-year robust trend belongs on yearly windows
    * composed downstream.)
    */
  /** w24 — THE ANALYTIC-RANK BATTERY (the §2.6 rank surface in one
    * window pass): per nation, customers ranked by account balance
    * under all five ANSI rank forms — `rank` (gaps after ties),
    * `dense_rank` (no gaps), `percent_rank` ((rank−1)/(n−1)),
    * `cume_dist` (rows ≤ current / n), and `ntile(4)` (quartile
    * buckets). One ordering detail carries ALL the portability:
    * ntile ignores peers — its assignment depends on physical row
    * order within ties — so the ORDER BY is made injective
    * ((c_acctbal, c_custkey)), which pins every one of the five
    * outputs to one engine-independent answer (rank/cume_dist tie
    * semantics then never fire, deliberately: a tie-SENSITIVE
    * battery is a13's quantile territory; this one locks the rank
    * algebra itself). The two fractional forms divide small exact
    * integers, so the doubles are bit-identical cross-engine.
    *
    * Scale shape: one hash exchange on the 25-nation grain, then a
    * partition-local sort of |customers|/25 per group — the a13
    * bounded-group window regime (at 100 TB the same battery runs
    * per bounded dimension key; an unpartitioned rank is the
    * bucketedPrefix case, not this one).
    */
  val w24_rank_battery: Q = (spark, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    customer(spark, dir)
      .where(col("c_custkey") % 5 === 0)
      .select(col("c_nationkey"), col("c_custkey"),
        graft.Tables.cents(col("c_acctbal")).cast("long").as("bal_cents"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).cast("long").as("quartile"))
  }

  val w23_theil_sen: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).cast("long").as("x"))
      .agg(sum(graft.Tables.cents(col("o_totalprice")).cast("long")).as("y"))
    val a = daily.select(col("priority"), col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("priority").as("pb"), col("x").as("xb"),
      col("y").as("yb"))
    val slopes = a.join(b, col("priority") === col("pb") && col("xa") < col("xb"))
      .select(col("priority"), col("xa"), col("xb"),
        expr("(yb - ya) * 1000000 div (xb - xa)").as("slope_micro"))
    val w = Window.partitionBy(col("priority"))
      .orderBy(col("slope_micro"), col("xa"), col("xb"))
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("priority"))))
      .where(col("rn") === expr("(np + 1) div 2"))
      .select(col("priority"), col("np").as("n_pairs"),
        col("slope_micro").as("ts_slope_micro"))
  }

  /** w22's oracle: the correlated trailing-BETWEEN form with the same
    * lower-order-statistic pick. */
  private def duckRollingMedianSql: String =
    """WITH d AS (
         SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS dt,
                CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS rev_cents
         FROM orders GROUP BY 1, 2)
       SELECT t.priority, t.dt, t.rev_cents,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM d w
               WHERE w.priority = t.priority
                 AND w.dt BETWEEN t.dt - 6 AND t.dt) AS n_window,
              (SELECT list_sort(list(w.rev_cents))[(COUNT(*) + 1) // 2]
               FROM d w WHERE w.priority = t.priority
                 AND w.dt BETWEEN t.dt - 6 AND t.dt) AS med_cents
       FROM d t"""

  /** w21's oracle: the same 16 dyadic terms spelled out — `/ 2^k` on
    * BIGINT is float division in DuckDB, exact for these magnitudes
    * (the docstring argument), so the doubles match bitwise. */
  private[graft] def duckEwmaSql: String = {
    val terms = (0 until EwmaDepth).map { i =>
      s"COALESCE(LAG(rev_cents, $i) OVER w, 0) / ${1L << (i + 1)}"
    }.mkString("\n                  + ")
    s"""WITH d AS (
          SELECT o_orderpriority AS priority,
                 CAST(o_orderdate AS DATE) AS dt,
                 CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS rev_cents
          FROM orders GROUP BY 1, 2)
        SELECT priority, dt, rev_cents,
               $terms AS ewma16
        FROM d WINDOW w AS (PARTITION BY priority ORDER BY dt)"""
  }

  /** w20 — WEEKDAY×HOUR ACTIVITY HEATMAP in long form: event counts
    * and exact per-mille share for every (day-of-week, hour) cell —
    * the 168-cell traffic fingerprint capacity planning and anomaly
    * baselines (a30/st66) read. Weekday numbering is pinned through
    * the same rebase f03 locked (DuckDB 0=Sunday → +1 to Spark's
    * 1=Sunday); share is cross-multiplied against the 1-row total.
    *
    * Scale shape: one (dow, hour) rollup with map-side partials into
    * a ≤168-row relation; total broadcast. Output bounded by the
    * clock, not the data.
    */
  val w20_weekly_heatmap: Q = (spark, dir) =>
    heatShareOf(heatCellsOf(events(spark, dir)))

  /** w20's (dow, hour) cell counts — st87 upserts them from its event
    * stream.
    */
  private[graft] def heatCellsOf(ev: DataFrame): DataFrame =
    ev.groupBy(dayofweek(col("ts")).cast("long").as("dow1"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n_events"))

  /** w20's per-mille share against the 1-row total — st87 runs it on
    * read.
    */
  private[graft] def heatShareOf(cells: DataFrame): DataFrame = {
    val tot = cells.agg(sum(col("n_events")).as("n_total"))
    cells.join(broadcast(tot), lit(true), "inner")
      .select(col("dow1"), col("hr"), col("n_events"),
        expr("cast(cast(n_events as decimal(38,0)) * 1000 div n_total" +
          " as bigint)").as("share_pm"))
  }

  /** w19 — CALENDAR DENSIFY + LOCF: the daily-revenue series on the
    * FULL calendar (min..max order date), missing days filled by
    * last-observation-carried-forward — the step-function gap fill
    * (w11 is the linear twin; LOCF is what balance-like and
    * state-like series need, where interpolating invents values that
    * never existed). Each row keeps the raw observation (null on a
    * missing day), the filled value, and the observed flag, so
    * downstream can tell measurement from carry. The fixture calendar
    * HAS missing days (w10's gap relation is non-empty), so the carry
    * path executes, not just compiles.
    *
    * Scale shape: one dt rollup; the densify explodes one 2-column
    * row into the calendar; window and join ride the calendar-bounded
    * daily relation (the w-family bound).
    */
  val w19_locf_fill: Q = (spark, dir) =>
    locfFill(orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("rev_cents")))

  /** w19's densify + carry tail over any (dt, rev_cents) daily
    * relation — shared with st86, where the daily sums are served
    * from the ingest door.
    */
  private[graft] def locfFill(daily: DataFrame): DataFrame = {
    val cal = daily.agg(min(col("dt")).as("d0"), max(col("dt")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("dt"))
    val w = Window.orderBy(col("dt"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cal.join(daily, Seq("dt"), "left")
      .withColumn("rev_filled",
        last(col("rev_cents"), ignoreNulls = true).over(w))
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
        col("rev_cents"), col("rev_filled"),
        col("rev_cents").isNotNull.as("is_observed"))
  }

  /** a49 — HIERARCHICAL ROLLUP over the snowflake (region → nation):
    * revenue and order counts at all three grains — (region, nation),
    * (region), () — in ONE pass via ROLLUP with the grouping-id
    * disambiguating real NULLs from subtotal rows — the §2.6 rollup
    * surface a11 covers for time, here for the dimension hierarchy,
    * and the grouping-sets parity check (Spark `grouping_id` bitmask
    * ≡ DuckDB `GROUPING`). Customer is data-volume so it joins by
    * key exchange; nation/region broadcast (bounded dims).
    *
    * Scale shape: one custkey exchange + two broadcast joins + one
    * rollup aggregation (Spark expands grouping sets BEFORE the
    * exchange — partials combine map-side at every grain).
    */
  val a49_rollup_revenue: Q = (spark, dir) =>
    regionOrdersOf(orders(spark, dir), customer(spark, dir),
        nation(spark, dir), region(spark, dir))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"), sum(col("c")).as("rev_cents"),
        grouping_id().cast("long").as("gid"))

  /** a49's (o_custkey, c cents) orders tagged with their customer's
    * region and nation — st85 aggregates its order stream through it.
    */
  private[graft] def regionOrdersOf(o: DataFrame, c: DataFrame, n: DataFrame,
                                    r: DataFrame): DataFrame = {
    val dims = c.select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n.select(col("n_nationkey"), col("n_regionkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("r_name"), col("n_name"))
    o.select(col("o_custkey"), cents(col("o_totalprice")).cast("long").as("c"))
      .join(dims, col("o_custkey") === col("c_custkey"))
  }

  /** a48 — DAILY-REVENUE AUTOCORRELATION at lags 1 and 7: Pearson r
    * between the daily-revenue series and its own calendar-shifted
    * self — lag-7 near 1 says the weekly cycle (a43's index) explains
    * the variance; lag-1 prices day-to-day momentum for the a30/a41
    * monitors. Pairs form by CALENDAR self-join (a missing day drops
    * its pairs — the w14 discipline; no index arithmetic that would
    * silently pair across gaps). Components are exact decimal(38,0)
    * sums of dollar-rounded revenue (squares of production-scale
    * daily revenue overflow BIGINT — the a21 lesson applied up
    * front), and the one float is the a33-pinned derivation
    * num / (√den_x · √den_y); only overflow-safe BIGINTs and that
    * double are emitted.
    *
    * Scale shape: one dt rollup; both lag joins broadcast the
    * calendar-bounded daily relation; output is 2 rows.
    */
  val a48_revenue_autocorr: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(round(col("o_totalprice")).cast("long")).as("rev_d"))
    val pairs = Seq(1, 7).map { k =>
      daily.as("a")
        .join(broadcast(daily.as("b")),
          col("a.dt") === date_add(col("b.dt"), k))
        .select(lit(k.toLong).as("lag_d"),
          col("a.rev_d").as("x"), col("b.rev_d").as("y"))
    }.reduce(_.unionByName(_))
    pairs.groupBy(col("lag_d"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      .select(col("lag_d"), col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") -
          expr("cast(sx as decimal(38,0)) * sy")).as("num"),
        (col("n") * col("sxx") -
          expr("cast(sx as decimal(38,0)) * sx")).as("den_x"),
        (col("n") * col("syy") -
          expr("cast(sy as decimal(38,0)) * sy")).as("den_y"))
      .select(col("lag_d"), col("n"), col("sx"), col("sy"),
        when(col("den_x") > 0 && col("den_y") > 0,
          col("num").cast("double") /
            (sqrt(col("den_x").cast("double")) *
              sqrt(col("den_y").cast("double")))).as("pearson_r"))
  }

  /** a44 — ORDERED FUNNEL CONVERSION: view → click → purchase, each
    * step STRICTLY AFTER the user's previous step (a click before the
    * first view does not count — the ordering constraint that
    * separates a funnel from three independent counts, and that a
    * naive per-type `min(ts)` silently violates). Step k's cohort:
    * users with step k−1 satisfied and a step-k event strictly later
    * than the step k−1 instant; output is the 3-row long form with
    * per-step user counts and step-over-step conversion in exact
    * per-mille. Same-instant events don't advance the funnel on
    * either engine (strict `>` on the raw timestamp — deterministic
    * cross-engine without any tie-break encoding).
    *
    * Scale shape: three user-keyed min-aggregations chained by
    * user-keyed joins — the SAME key throughout, so after the first
    * exchange the chain co-partitions; state per user is one
    * timestamp per step. The final stack rides one broadcast row.
    */
  val a44_funnel_conversion: Q = (spark, dir) => {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.where(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .where(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .where(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val nv = v.agg(count(lit(1)).as("nv"))
    val nc = c.agg(count(lit(1)).as("nc"))
    val np = p.agg(count(lit(1)).as("np"))
    funnelStack(nv.join(broadcast(nc), lit(true), "inner")
      .join(broadcast(np), lit(true), "inner"))
  }

  /** a44's 3-row long-form conversion rollup over a 1-row
    * (nv, nc, np) relation — shared with st82's read-side.
    */
  private[graft] def funnelStack(counts: DataFrame): DataFrame =
    // Empty funnel steps (nv or nc = 0) must yield a NULL conversion,
    // not a division result — the guard makes the empty-step semantics
    // explicit instead of resting on Spark's NULL-on-div-0 vs the
    // oracle's `//` behavior agreeing.
    counts.select(expr(
      """stack(3,
           1L, 'view', nv, if(nv > 0, 1000L, null),
           2L, 'click', nc, if(nv > 0, nc * 1000 div nv, null),
           3L, 'purchase', np, if(nc > 0, np * 1000 div nc, null))
         as (step_n, step, n_users, conv_pm)"""))

  /** w16 — COHORT RETENTION TRIANGLE: customers grouped by
    * first-order month; for each (cohort, month offset) the distinct
    * customers active that month and retention vs the cohort's size in
    * exact per-mille — THE subscription/repeat-purchase health
    * relation. Offsets come from month-truncated calendar arithmetic
    * (`months_between` on month starts is exactly integral), so a
    * customer active in any day of month k lands in offset k; months
    * with no activity simply have no row (the w14 missing-stays-
    * missing discipline).
    *
    * Scale shape: one custkey rollup finds cohorts, one custkey join
    * tags activity (same key — co-partitioned), one
    * (cohort, offset) countDistinct exchange; the cohort-size join
    * broadcasts the calendar-bounded cohort relation.
    */
  val w16_cohort_retention: Q = (spark, dir) => {
    val om = orders(spark, dir)
      .select(col("o_custkey").as("custkey"),
        trunc(to_date(col("o_orderdate")), "month").as("m"))
    val cohort = om.groupBy(col("custkey")).agg(min(col("m")).as("cohort"))
    val cells = om.distinct()
      .join(cohort, Seq("custkey"))
      .select(col("custkey"), col("cohort"),
        months_between(col("m"), col("cohort")).cast("long").as("offset_m"))
      .groupBy(col("cohort"), col("offset_m"))
      .agg(countDistinct(col("custkey")).as("n_active"))
    val base = cells.where(col("offset_m") === 0)
      .select(col("cohort"), col("n_active").as("n_cohort"))
    cells.join(broadcast(base), Seq("cohort"))
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort_m"),
        col("offset_m"), col("n_active"), col("n_cohort"),
        expr("n_active * 1000 div n_cohort").as("retention_pm"))
  }

  /** p24 — PRIMARY-KEY AUDIT across the whole star schema in one
    * long-form relation: per table, row count, distinct key count, a
    * uniqueness verdict, the key range, and key-space density in
    * per-mille — the ingest contract check a CDC/backfill bug breaks
    * FIRST (a double-applied batch shows as is_unique=false; a gapped
    * id sequence shows as falling density), and the audit p22 (FDs)
    * and p23 (FKs) both implicitly assume. Lineitem's composite key
    * packs (orderkey, linenumber) into one long (×16 shift — TPC-H
    * linenumbers are ≤ 7 at every SF).
    *
    * Scale shape: ten independent 1-row aggregates (each one
    * count-distinct exchange over its own table), unioned — tables
    * audit in parallel; output is 10 rows.
    */
  /** p26 — IN-FLIGHT QUALITY METRICS via `observe`/CollectMetrics: the
    * production pattern for data-quality counters that must NOT cost a
    * second scan — the metrics expressions ride the SAME pass as the
    * main query (here a noop-sunk materialization standing in for any
    * real write) and surface as one driver-side row. This is the
    * mechanism for "reject the batch if >x% nulls" circuit breakers in
    * both batch and streaming (`observe` works under `writeStream`
    * too, via QueryProgressEvent). The driver-side read is ONE bounded
    * metrics row (the documented ≤64-row decision-read contract — no
    * data rows ever reach the driver); the oracle recomputes the same
    * aggregates relationally, proving the in-flight counters equal the
    * nightly scan.
    */
  val p26_observe_metrics: Q = (spark, dir) => {
    val obs = org.apache.spark.sql.Observation()
    lineitem(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L))
          .as("n_high_disc"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        graft.Tables.moneySum(col("l_extendedprice")).as("rev"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    import spark.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("n_high_disc").asInstanceOf[Long],
      m("n_returned").asInstanceOf[Long], m("rev").asInstanceOf[Double]))
      .toDF("n_rows", "n_high_disc", "n_returned", "rev")
  }

  val p24_pk_audit: Q = (spark, dir) => {
    def audit(name: String, df: DataFrame, id: Column): DataFrame =
      df.select(id.cast("long").as("id"))
        .agg(count(lit(1)).as("n_rows"), countDistinct(col("id")).as("n_ids"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .select(lit(name).as("tbl"), col("n_rows"), col("n_ids"),
          (col("n_rows") === col("n_ids")).as("is_unique"),
          col("min_id"), col("max_id"),
          expr("n_ids * 1000 div (max_id - min_id + 1)").as("density_pm"))
    Seq(
      audit("region", region(spark, dir), col("r_regionkey")),
      audit("nation", nation(spark, dir), col("n_nationkey")),
      audit("customer", customer(spark, dir), col("c_custkey")),
      audit("supplier", supplier(spark, dir), col("s_suppkey")),
      audit("part", part(spark, dir), col("p_partkey")),
      audit("orders", orders(spark, dir), col("o_orderkey")),
      audit("lineitem", lineitem(spark, dir),
        col("l_orderkey") * 16 + col("l_linenumber")),
      audit("events", events(spark, dir), col("event_id")),
      audit("documents", documents(spark, dir), col("doc_id")),
      audit("embeddings", embeddings(spark, dir), col("vec_id")),
    ).reduce(_.unionByName(_))
  }

  /** p25 — DISTRIBUTION-DRIFT AUDIT between the arriving delta and the
    * standing corpus (the d11 split convention): per profiled column
    * (lang, source, and the length decile the drift gate already
    * buckets on), the exact TOTAL-VARIATION DISTANCE between the two
    * splits' value distributions in per-mille — Σ|pm_s − pm_d| div 2
    * over the value union, every per-mille an exact floored integer —
    * plus the single value that moved most. One number per column
    * answers "did tonight's delta change shape", the audit that
    * decides whether c06's incremental manifest can ship or the
    * drift-gate verdicts (st45/c08) need a human; T.driftVerdicts
    * flags per-bucket trips, this prices the whole column.
    *
    * Scale shape: one explode-to-long-form pass over the scan (p21's
    * one-scan discipline), ONE (column, value) rollup with conditional
    * partial sums, a 3-row column rollup; totals broadcast as a 1-row
    * aggregate. Value-domain-bounded, never corpus².
    */
  /** p25's profile explode over any documents-shaped relation — shared
    * verbatim with st91, which runs it on the firehose.
    */
  private[graft] def driftProfileLongForm(docs: DataFrame): DataFrame = docs
    .select((col("doc_id") % 10 === 0).as("is_delta"),
      coalesce(col("lang"), lit("<null>")).as("lang"),
      coalesce(col("source"), lit("<null>")).as("source"),
      least(expr("n_chars div 200"), lit(9L)).cast("string").as("len_b"))
    .select(col("is_delta"), explode(array(
      struct(lit("lang").as("c"), col("lang").as("value")),
      struct(lit("source").as("c"), col("source").as("value")),
      struct(lit("len").as("c"), col("len_b").as("value")))).as("e"))
    .select(col("is_delta"), col("e.c").as("col_name"), col("e.value").as("value"))

  /** p25's verdict tail over a (col_name, value, cnt_s, cnt_d) counter
    * relation — per-column totals (every doc carries exactly one value
    * per column, so Σ within a column IS the split size), floored
    * per-milles, TVD, top-moved value. Shared verbatim with st91's
    * judge-on-read.
    */
  private[graft] def driftAuditTail(counts: DataFrame): DataFrame = {
    val tot = counts.groupBy(col("col_name"))
      .agg(sum(col("cnt_s")).as("n_s"), sum(col("cnt_d")).as("n_d"))
    counts.join(tot, Seq("col_name"))
      .select(col("col_name"), col("value"),
        expr("cnt_s * 1000 div n_s").as("pm_s"),
        expr("cnt_d * 1000 div n_d").as("pm_d"),
        col("n_s"), col("n_d"))
      .withColumn("diff", abs(col("pm_s") - col("pm_d")))
      .groupBy(col("col_name"))
      .agg(first(col("n_s")).as("n_standing"), first(col("n_d")).as("n_delta"),
        count(lit(1)).as("n_values"), sum(col("diff")).as("sum_diff"),
        max(struct(col("diff"), col("value"))).as("m"))
      .select(col("col_name"), col("n_standing"), col("n_delta"),
        col("n_values"), expr("sum_diff div 2").as("tvd_pm"),
        col("m.value").as("top_value"), col("m.diff").as("top_diff_pm"))
  }

  val p25_distribution_drift: Q = (spark, dir) =>
    driftAuditTail(
      driftProfileLongForm(documents(spark, dir))
        .groupBy(col("col_name"), col("value"))
        .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("cnt_s"),
          sum(when(col("is_delta"), 1L).otherwise(0L)).as("cnt_d")))

  private[graft] def duckDriftAuditSql: String =
    s"""WITH base AS (SELECT doc_id % 10 = 0 AS is_delta,
                             COALESCE(lang, '<null>') AS lang,
                             COALESCE(source, '<null>') AS source,
                             CAST(least(n_chars // 200, 9) AS VARCHAR) AS len_b
                      FROM documents),
        tot AS (SELECT CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_s,
                       CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_d
                FROM base),
        u AS (SELECT 'lang' AS col_name, lang AS value, is_delta FROM base
              UNION ALL
              SELECT 'source', source, is_delta FROM base
              UNION ALL
              SELECT 'len', len_b, is_delta FROM base),
        c AS (SELECT col_name, value,
                     CAST(SUM(CASE WHEN is_delta THEN 0 ELSE 1 END)
                          AS BIGINT) AS cnt_s,
                     CAST(SUM(CASE WHEN is_delta THEN 1 ELSE 0 END)
                          AS BIGINT) AS cnt_d
              FROM u GROUP BY 1, 2),
        p AS (SELECT col_name, value, n_s, n_d,
                     abs(cnt_s * 1000 // n_s - cnt_d * 1000 // n_d) AS diff
              FROM c, tot),
        r AS (SELECT col_name, value AS top_value, diff AS top_diff_pm
              FROM p
              QUALIFY row_number() OVER (PARTITION BY col_name
                        ORDER BY diff DESC, value DESC) = 1),
        a AS (SELECT col_name,
                     CAST(MIN(n_s) AS BIGINT) AS n_standing,
                     CAST(MIN(n_d) AS BIGINT) AS n_delta,
                     CAST(COUNT(*) AS BIGINT) AS n_values,
                     CAST(SUM(diff) // 2 AS BIGINT) AS tvd_pm
              FROM p GROUP BY 1)
        SELECT a.col_name, a.n_standing, a.n_delta, a.n_values, a.tvd_pm,
               r.top_value, CAST(r.top_diff_pm AS BIGINT) AS top_diff_pm
        FROM a JOIN r USING (col_name)"""

  private def duckPk(name: String, idExpr: String): String =
    s"""SELECT '$name' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT id) AS BIGINT) AS n_ids,
              COUNT(*) = COUNT(DISTINCT id) AS is_unique,
              CAST(MIN(id) AS BIGINT) AS min_id,
              CAST(MAX(id) AS BIGINT) AS max_id,
              CAST(COUNT(DISTINCT id) * 1000
                   // (MAX(id) - MIN(id) + 1) AS BIGINT) AS density_pm
       FROM (SELECT CAST($idExpr AS BIGINT) AS id FROM $name)"""

  /** p23 — REFERENTIAL-INTEGRITY AUDIT: orphan-FK rates across the
    * star schema's three load-bearing edges (lineitem→orders,
    * orders→customer, lineitem→part) in one relation — the ingest
    * trust check every downstream join implicitly assumes and a
    * broken backfill silently violates (an orphaned FK doesn't fail;
    * it just drops rows from every inner join forever). Orphans via
    * LEFT ANTI against the DISTINCT parent key set — never a row-level
    * outer join of two fact tables — with the rate in exact per-mille.
    *
    * Scale shape: per edge, one distinct-key reduction of the parent
    * (map-side partial) and one anti-join keyed the same way; output
    * is 3 rows. The child is never joined at row width.
    */
  val p23_fk_audit: Q = (spark, dir) => {
    def edge(name: String, child: DataFrame, ck: String,
             parent: DataFrame, pk: String) = {
      val n = child.agg(count(lit(1)).as("n_child"))
      val orphans = child.select(col(ck).as("k"))
        .join(parent.select(col(pk).as("k")).distinct(), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      n.join(orphans, lit(true), "inner")
        .select(lit(name).as("edge"), col("n_child"), col("n_orphans"),
          expr("n_orphans * 1000 div n_child").as("orphan_pm"))
    }
    Seq(
      edge("lineitem->orders", lineitem(spark, dir), "l_orderkey",
        orders(spark, dir), "o_orderkey"),
      edge("orders->customer", orders(spark, dir), "o_custkey",
        customer(spark, dir), "c_custkey"),
      edge("lineitem->part", lineitem(spark, dir), "l_partkey",
        part(spark, dir), "p_partkey"))
      .reduce(_.unionByName(_))
  }

  /** p22 — FUNCTIONAL-DEPENDENCY / KEY-CANDIDATE AUDIT: the schema-
    * discovery relation profilers derive before anyone writes a join —
    * for each pinned candidate (determinant → dependent) pair:
    * |distinct(det)| vs |distinct(det, dep)| (equal ⟺ the FD holds on
    * this corpus — det functionally determines dep), plus the
    * determinant's uniqueness in exact per-mille (1000 ⟺ det is a key
    * candidate). This is how `event_id → *` is PROVEN unique before
    * K3's idempotent-by-id sink relies on it, and how a proposed
    * enrichment join key is vetted for fan-out before it ships.
    *
    * Scale shape: all pairs ride ONE aggregation over one scan
    * (Spark expands multi-distinct into one Expand + aggregate — a
    * constant factor over the pair count, never a per-pair scan
    * loop: the p21 one-scan discipline applied to dependency
    * profiling); the reshape-out is a literal-array explode of a
    * 1-row relation.
    */
  val p22_fd_audit: Q = (spark, dir) => {
    val e = events(spark, dir)
    def fd(det: String, dep: String) = struct(
      lit(det).as("det"), lit(dep).as("dep"),
      count_distinct(col(det)).as("n_det"),
      count_distinct(struct(col(det), col(dep))).as("n_pair"))
    e.agg(count(lit(1)).as("n_rows"),
        array(fd("event_id", "user_id"), fd("event_id", "event_type"),
          fd("user_id", "event_type"), fd("event_type", "props"),
          fd("props", "event_type")).as("fds"))
      .select(col("n_rows"), explode(col("fds")).as("f"))
      .select(col("f.det").as("det"), col("f.dep").as("dep"), col("n_rows"),
        col("f.n_det").as("n_det"), col("f.n_pair").as("n_pair"),
        (col("f.n_det") === col("f.n_pair")).as("fd_holds"),
        expr("f.n_det * 1000 div n_rows").as("det_key_pm"))
  }

  /** w14 — PERIOD-OVER-PERIOD COMPARISON: daily revenue against the
    * same day one week back (WoW) and 364 days back (YoY at weekday
    * parity — 52 exact weeks, so Monday compares to Monday; the naive
    * 365 shifts the weekday and poisons the comparison with the
    * weekly cycle), deltas in exact integer per-mille. CALENDAR
    * self-joins on the shifted date, not row-offset lags — a missing
    * day must compare as missing (null), not silently slide to
    * whatever row happened to be 7 positions back (the w10 gap
    * lesson applied to reporting).
    *
    * Scale shape: the daily relation is calendar-bounded (the
    * w-family bound), so both shifted self-joins broadcast; one dt
    * rollup with map-side partials is the only data-volume exchange.
    */
  val w14_period_over_period: Q = (spark, dir) =>
    periodShifts(orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("rev_cents")))

  /** [[w14_period_over_period]]'s shifted self-joins over any
    * (dt, rev_cents) daily relation — shared with st77, where the
    * daily sums are maintained at ingest and the report runs on read.
    */
  private[graft] def periodShifts(daily: DataFrame): DataFrame = {
    def shifted(days: Int, as: String) = daily.select(
      date_add(col("dt"), days).as("dt"), col("rev_cents").as(as))
    daily
      .join(broadcast(shifted(7, "wk_cents")), Seq("dt"), "left")
      .join(broadcast(shifted(364, "yr_cents")), Seq("dt"), "left")
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
        col("rev_cents"), col("wk_cents"), col("yr_cents"),
        when(col("wk_cents").isNotNull && col("wk_cents") > 0,
          expr("((rev_cents - wk_cents) * 1000) div wk_cents")).as("wow_pm"),
        when(col("yr_cents").isNotNull && col("yr_cents") > 0,
          expr("((rev_cents - yr_cents) * 1000) div yr_cents")).as("yoy_pm"))
  }

  /** a41 — CHANGEPOINT SCAN (binary-segmentation step over the daily
    * revenue series): for every split point i of the date-ordered
    * daily totals, the left/right mean gap as an exact integer —
    * num = sl·(n−i) − sr·i over den = i·(n−i) (the cross-multiplied
    * form of mean_l − mean_r; the a33 exact-component discipline
    * applied to segmentation) — scaled to micro units through a
    * decimal(38,0) promotion (num·10⁶ wraps a Long at production
    * revenue — the a21 overflow lesson applied BEFORE it bites).
    * The argmax row (ties → earliest day) is flagged `is_peak`: the
    * first cut binary segmentation would recurse on, and the
    * monitoring answer to "did the level shift, and when?" that
    * a30's seasonal-naive residuals can't give (a30 scores single
    * days; this locates a PERSISTENT level change). All integer
    * until one final division that never happens (the micro scaling
    * IS the division, floored).
    *
    * Scale shape: one dt rollup with map-side partials; prefix sums,
    * split statistics and the peak flag all ride the CALENDAR-bounded
    * daily relation (~2.4k rows/7yr at any SF — the w-family bound),
    * so the unpartitioned windows never see data volume; the 1-row
    * total broadcasts.
    */
  val a41_changepoint: Q = (spark, dir) =>
    changepointScan(orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(sum(cents(col("o_totalprice")).cast("long")).as("rev_cents")))

  /** [[a41_changepoint]]'s split scan over any (dt, rev_cents) daily
    * relation — shared with st76, where the daily sums are maintained
    * at ingest and this scan runs on read (the st68/st72 discipline).
    */
  private[graft] def changepointScan(daily: DataFrame): DataFrame = {
    val tot = daily.agg(sum(col("rev_cents")).as("st"),
      count(lit(1)).as("n"))
    val wc = Window.orderBy(col("dt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("i", row_number().over(Window.orderBy(col("dt"))).cast("long"))
      .withColumn("sl", sum(col("rev_cents")).over(wc))
      .join(broadcast(tot), lit(true), "inner")
      .where(col("i") < col("n"))
      .select(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
        col("rev_cents"), col("i"), col("sl"), col("st"), col("n"),
        (col("sl") * (col("n") - col("i")) - (col("st") - col("sl")) * col("i"))
          .as("num"),
        (col("i") * (col("n") - col("i"))).as("den"))
      .withColumn("absdiff_micro",
        expr("cast(cast(abs(num) as decimal(38,0)) * 1000000 div den as bigint)"))
      .withColumn("is_peak",
        row_number().over(
          Window.orderBy(col("absdiff_micro").desc, col("i"))) === 1)
  }

  /** a21 — KEY-SKEW REPORT: the diagnostic that DECIDES between a
    * plain shuffle join/agg and the mitigations this engine ships
    * (j09's salting, a06's salt-and-merge, AQE skew splitting) — per
    * grouping domain: row count, key cardinality, the hottest key's
    * row count, and its load as a multiple of the fair share in
    * exact integer per-mille (top·keys·1000 ÷ rows; > 2000 = the hot
    * key carries over twice its fair share, the rule-of-thumb line
    * where one reducer becomes the stage's tail). Two aggregations,
    * both with map-side partials; the second input is |keys| rows.
    * The ingest-time analog is st30's Misra-Gries serving twin:
    * exact per-key counting at stream scale would be corpus-bounded
    * state, so the monitor runs on the mergeable summary there.
    */
  val a21_skew_report: Q = (spark, dir) => {
    events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_events"),
        count(lit(1)).as("n_keys"),
        max(col("c")).as("top_key_events"))
      .withColumn("skew_x1000",
        // Promote to decimal(38,0) BEFORE multiplying: top*keys*1000 in
        // Long wraps silently at production cardinalities (Spark non-ANSI)
        // where DuckDB promotes — the engines would diverge exactly at
        // scale. IntegralDivide on decimals yields the same Long result.
        expr("cast(cast(top_key_events as decimal(38,0)) * n_keys * 1000" +
          " div n_events as bigint)"))
      .withColumn("skewed", col("skew_x1000") > 2000L)
  }

  /** w05 — OHLC CANDLES (open-high-low-close per (series, hour)): the
    * time-series summary shape every metrics/markets dashboard rolls
    * up to, and the canonical use of ORDERED-PICK aggregates
    * (`min_by`/`max_by`): open and close are the values at the
    * candle's first and last instant under the TOTAL order
    * (tsu, event_id) — a bare ts order would make equal-timestamp
    * candles nondeterministic, the a16/j11 tie lesson. Money rides as
    * integer cents (exact partials).
    *
    * Scale shape: ONE aggregation with map-side partials — min_by/
    * max_by partials carry (value, key) pairs, so the exchange is
    * |candles| rows per partition, never the raw series; no window
    * pass, no sort. The DuckDB twin deliberately computes the picks
    * the structurally different way (row_number edges), checking
    * semantics, not implementation.
    */
  val w05_ohlc_candles: Q = (spark, dir) => ohlcOf(events(spark, dir))

  /** w05's candle aggregate over any events relation — st52 upserts
    * it from its event stream.
    */
  private[graft] def ohlcOf(ev: DataFrame): DataFrame = {
    val ord = struct(col("tsu"), col("event_id"))
    ev.where(col("value").isNotNull)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        cents(col("value")).cast("long").as("c"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        min_by(col("c"), ord).as("open_cents"),
        max(col("c")).as("high_cents"),
        min(col("c")).as("low_cents"),
        max_by(col("c"), ord).as("close_cents"),
        count(lit(1)).as("n_events"))
  }

  /** a30 — SEASONAL RESIDUAL MONITOR: flag hours whose traffic
    * deviates robustly from the SAME HOUR YESTERDAY — the
    * seasonal-naive anomaly detector (traffic is daily-periodic, so
    * "vs 24h ago" is the baseline that doesn't fire every rush
    * hour), with a24's median/MAD gate over the residuals so the
    * threshold itself resists the anomalies it hunts. The seasonal
    * join is BY TIME, not by row offset — hours with zero events are
    * absent from the count relation, so a lag-24-ROWS window would
    * silently compare misaligned hours; the self-join on (type,
    * hr−24h) coalesces a missing baseline to 0 (yesterday truly had
    * nothing). All integer counts, cross-multiplied threshold; output
    * is flagged hours only.
    *
    * Scale shape: one (type, hour) count rollup (map-side partials),
    * a self-join on the shifted key (both sides are the bounded
    * |types|·|hours| count relation, not raw events), two rank-pick
    * median passes over that same bounded relation. Raw data is
    * scanned ONCE.
    */
  val a30_seasonal_residuals: Q = (spark, dir) =>
    residualJudge(events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n")))

  /** [[a30_seasonal_residuals]]'s judgment over any (event_type, hr,
    * n) count relation — shared with st66, where the counts are
    * maintained at ingest and this entire judgment runs ON READ
    * (counting is the only stateful step; counts are delivery-order
    * free).
    */
  private[graft] def residualJudge(h: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byType = W.partitionBy(col("event_type"))
    val prior = h.select(col("event_type"),
      (col("hr") + expr("INTERVAL 24 HOURS")).as("hr"), col("n").as("n_prior"))
    val r = h.join(prior, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"), col("n"),
        coalesce(col("n_prior"), lit(0L)).as("expected"),
        (col("n") - coalesce(col("n_prior"), lit(0L))).as("resid"))
    def medOf(df: DataFrame, c: String, out: String) = df
      .withColumn("rn", row_number().over(byType.orderBy(col(c), col("hr"))))
      .withColumn("nn", count(lit(1)).over(byType))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === ceil(lit(0.5) * col("nn")), col(c))).as(out))
    val med = medOf(r, "resid", "med")
    val dev = r.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("resid") - col("med")))
    val mad = medOf(dev, "dev", "mad")
    dev.join(broadcast(mad), "event_type")
      .where(col("dev") * 10000 > col("mad") * 44478)
      .select(col("event_type"), date_format(col("hr"), "yyyy-MM-dd HH").as("hr"),
        col("n"), col("expected"), col("resid"), col("med"), col("mad"))
  }

  /** w09 — CANDLE ROLLUP (multi-resolution OHLC): DAY candles merged
    * FROM the hour candles, never from raw — the multi-resolution
    * serving shape (minute→hour→day) every time-series store runs,
    * and it works because OHLC is MERGEABLE: open = the earliest
    * child's open, close = the latest child's close, high/low =
    * max/min of children, volume = sum. The merge keys on each
    * child's first/last (tsu, event_id) order struct — carrying the
    * order witness through the hierarchy is what makes the
    * associativity real (a day assembled from hours must pick its
    * open by the child that actually starts first, not by hour-label
    * string order — though those agree, the witness is the proof).
    * The DuckDB twin computes day candles DIRECTLY FROM RAW — the
    * differential IS the mergeability proof (rollup-of-candles ≡
    * candles-of-raw), a22's increment≡full discipline for ordered
    * picks.
    *
    * Scale shape: the hour pass is w05's one aggregation; the day
    * merge aggregates |hour-candles| rows — at scale each resolution
    * reads the one below, never raw.
    */
  val w09_candle_rollup: Q = (spark, dir) => {
    val ord = struct(col("tsu"), col("event_id"))
    val hourly = events(spark, dir)
      .where(col("value").isNotNull)
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        cents(col("value")).cast("long").as("c"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      .groupBy(col("event_type"), col("day"), col("hour"))
      .agg(
        min(struct(col("tsu"), col("event_id"), col("c"))).as("first"),
        max(struct(col("tsu"), col("event_id"), col("c"))).as("last"),
        max(col("c")).as("high_cents"),
        min(col("c")).as("low_cents"),
        count(lit(1)).as("n_events"))
    hourly.groupBy(col("event_type"), col("day"))
      .agg(
        min(col("first")).getField("c").as("open_cents"),
        max(col("high_cents")).as("high_cents"),
        min(col("low_cents")).as("low_cents"),
        max(col("last")).getField("c").as("close_cents"),
        sum(col("n_events")).as("n_events"))
  }

  /** w10 — CALENDAR GAPS (data-completeness audit): the hours in the
    * corpus's span where a type produced NOTHING, reported as gap
    * ISLANDS (start, end, length) — the freshness/SLA view a30
    * cannot give, because an absent hour never makes it into the
    * count relation a30 monitors (the absence-is-invisible trap that
    * every count-based monitor has; the CALENDAR SPINE makes absence
    * a row). Spine = one 1-row min/max aggregate exploded into
    * hours × the bounded type set; missing = one anti-join;
    * islands = a16's gap-and-island trick on the hour index.
    *
    * Scale shape: raw data is scanned once for the counts and once
    * for the span; everything after operates on bounded relations
    * (|types|·|hours|). The spine explode is driver-free — sequence()
    * over the 1-row span.
    */
  val w10_calendar_gaps: Q = (spark, dir) => {
    val ev = events(spark, dir)
    gapIslands(
      ev.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n")),
      ev.agg(date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi")),
      ev.select(col("event_type")).distinct())
  }

  /** [[w10_calendar_gaps]]' spine/anti-join/island tail over any
    * (event_type, hr, n) count relation + 1-row span + type set —
    * shared with st67, which audits the SERVED ingest counters.
    */
  private[graft] def gapIslands(h: DataFrame, span: DataFrame,
                                types: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val spine = span.select(explode(
      sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hr"))
    val missing = spine.join(broadcast(types), lit(true), "inner")
      .join(h, Seq("event_type", "hr"), "left_anti")
    val w = W.partitionBy(col("event_type")).orderBy(col("hr"))
    missing
      .withColumn("grp",
        expr("unix_micros(hr) div 3600000000") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(date_format(min(col("hr")), "yyyy-MM-dd HH").as("gap_start"),
        date_format(max(col("hr")), "yyyy-MM-dd HH").as("gap_end"),
        count(lit(1)).as("gap_hours"))
      .select(col("event_type"), col("gap_start"), col("gap_end"), col("gap_hours"))
  }

  /** Count-Min geometry for [[a23_count_min]]. */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024L

  /** a23 — COUNT-MIN SKETCH (the point-query counter summary,
    * completing the mergeable-counter set beside a07's HLL, a14's
    * quantiles, a15's Misra-Gries and a17's KMV): per-user event
    * frequencies summarized into a FIXED d×w counter grid — each
    * event increments one bucket per row (d portable xor-mixed
    * hashes), a point query reads the MIN of its d buckets. Unlike
    * Misra-Gries, CMS is fully DETERMINISTIC under any merge tree
    * (merge = elementwise sum; min-of-sums is order-free), so — the
    * a17 precedent — the WHOLE sketch is hash-oracle-checked, no
    * carve-out. Guarantees (the audit columns make them visible):
    * est ≥ exact always (counters only ever overcount), and the
    * probed zero-event users show the collision overcount a CMS
    * consumer must budget for (ε = e/w per the Cormode-Muthukrishnan
    * bound).
    *
    * Scale shape: the sketch build is ONE aggregation whose map-side
    * partials are capped at d·w counters per partition — the O(k)
    * exchange that replaces a full user-keyed groupBy at 100 TB; the
    * probe set is bounded and broadcast, and the estimate join
    * touches d rows per probe against the ≤ d·w-row sketch. The
    * exact twin rides the same scan for the audit (at production
    * scale the exact column is the expensive side — that is the
    * point of the sketch).
    */
  val a23_count_min: Q = (spark, dir) =>
    cmsProbeOf(cmsOf(events(spark, dir)), customer(spark, dir), events(spark, dir))

  /** a23's d×w counter grid over any events relation — st53 upserts
    * it from its event stream.
    */
  private[graft] def cmsOf(ev: DataFrame): DataFrame = {
    val P = graft.functions.Portable
    val h = P.hash60(concat(lit("cms:"), col("user_id").cast("string")))
    val rows = (0 until CmsDepth).map(r =>
      struct(lit(r.toLong).as("r"),
        pmod(P.xorMix(r, h), lit(CmsWidth)).as("bucket")))
    ev.select(col("user_id"), explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** a23's probe estimates and exact audit against a (r, bucket, cnt)
    * grid — st53 runs them on read over its served grid.
    */
  private[graft] def cmsProbeOf(cms: DataFrame, c: DataFrame,
                                ev: DataFrame): DataFrame = {
    val P = graft.functions.Portable
    val probes = c
      .where(col("c_custkey") % 50 === 0)
      .select(col("c_custkey").as("user_id"))
    val ph = P.hash60(concat(lit("cms:"), col("user_id").cast("string")))
    val probeRows = probes.select(col("user_id"),
      explode(array((0 until CmsDepth).map(r =>
        struct(lit(r.toLong).as("r"),
          pmod(P.xorMix(r, ph), lit(CmsWidth)).as("bucket"))): _*)).as("rb"))
      .select(col("user_id"), col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    val est = probeRows.join(cms, Seq("r", "bucket"), "left")
      .groupBy(col("user_id"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
    val exact = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
    est.join(exact, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"),
        col("est_cnt"), (col("est_cnt") - coalesce(col("exact_cnt"), lit(0L)))
          .as("overcount"))
  }

  /** The standing per-customer order aggregate, materialized ONCE per
    * sfDir — a22's "last night's view".
    */
  private val mvCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mvBase(spark: SparkSession, dir: String): String =
    mvCache.computeIfAbsent(dir, _ => {
      val p = graft.Tables.scratchDir("graft_mv_")
      orders(spark, dir).where(col("o_orderkey") % 10 =!= 0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("cents"))
        .write.parquet(s"$p/base")
      p
    })

  /** a24 — ROBUST OUTLIER DETECTION (median/MAD): flag events whose
    * value deviates from its type's MEDIAN by more than 3 robust
    * sigmas (MAD · 1.4826) — the monitoring gate a21's mean-based
    * skew report can't provide, because mean and stddev are
    * themselves dragged by the outliers they're meant to find; the
    * median/MAD pair has a 50 % breakdown point. All arithmetic is
    * exact integers: values in cents, the 3·1.4826 threshold as the
    * cross-multiplied compare `10000·dev > 44478·mad` — no doubles
    * anywhere, so the engines agree bit-for-bit.
    *
    * Scale shape: both medians are picked order statistics (a13's
    * rn = ⌈n/2⌉ pick); each pick costs one hash(event_type)
    * exchange + sort (two total, plan-spec-bounded), and the
    * |types|-row med/mad relations broadcast back. Output is
    * outliers only — the delta, not the corpus. At 100 TB the exact
    * per-group sort follows a13's deferral: swap the pick for a14's
    * mergeable quantile sketch and the whole query becomes one
    * map-side pass. The DuckDB twin uses quantile_disc (same lower-
    * median semantics, different construction).
    */
  /** [[a24_outlier_mad]]'s per-type (med, mad) thresholds — the
    * |types|-row nightly decision relation, shared with st58's
    * at-ingest gate (decide-batch-serve-stream).
    */
  private[graft] def madThresholds(spark: SparkSession, dir: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byType = W.partitionBy(col("event_type"))
    val x = events(spark, dir).select(col("event_id"), col("event_type"),
      graft.Tables.cents(col("value")).cast("long").as("xc"))
    def medOf(df: DataFrame, c: String, out: String) = df
      .withColumn("rn", row_number().over(byType.orderBy(col(c), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byType))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === ceil(lit(0.5) * col("n")), col(c))).as(out))
    val med = medOf(x, "xc", "med")
    val dev = x.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("xc") - col("med")))
    med.join(medOf(dev, "dev", "mad"), "event_type")
  }

  /** a25 — WINSORIZED + TRIMMED MEANS: robust per-type location
    * estimates — where a24 FLAGS outliers, this AGGREGATES through
    * them: the winsorized mean clamps values into [p05, p95] (every
    * row still votes, tails vote at the fence) and the trimmed mean
    * drops the tails entirely — the two standard choices when a mean
    * must not follow a fat tail, reported beside the plain mean so
    * the dashboard shows HOW MUCH the tail was dragging. The fences
    * are a13's exact picked order statistics (rn = ⌈q·n⌉); all sums
    * are integer cents, the three means one exact-integer double
    * division each — bit-identical cross-engine.
    *
    * Scale shape: one rank window + rollup per type for the fences
    * (hash(event_type) exchange + sort), |types| fence rows
    * broadcast back, ONE conditional re-aggregation for all three
    * means (clamp and trim ride the same scan as when-branches). At
    * 100 TB the fences defer to a14's sketch like a13 does.
    */
  val a25_winsorized_mean: Q = (spark, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val byType = W.partitionBy(col("event_type"))
    val x = events(spark, dir).select(col("event_type"),
      graft.Tables.cents(col("value")).cast("long").as("xc"), col("event_id"))
    val ranked = x
      .withColumn("rn", row_number().over(byType.orderBy(col("xc"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(byType))
    def pick(q: Double) =
      max(when(col("rn") === ceil(lit(q) * col("n")), col("xc")))
    val fences = ranked.groupBy(col("event_type"))
      .agg(pick(0.05).as("p05"), pick(0.95).as("p95"))
    val clamped = greatest(col("p05"), least(col("p95"), col("xc")))
    val inside = col("xc") >= col("p05") && col("xc") <= col("p95")
    x.join(broadcast(fences), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("p05")).as("p05"), max(col("p95")).as("p95"),
        (sum(col("xc")).cast("double") / count(lit(1)).cast("double")).as("mean_c"),
        (sum(clamped).cast("double") / count(lit(1)).cast("double")).as("wins_mean_c"),
        (sum(when(inside, col("xc"))).cast("double") /
          sum(when(inside, 1L)).cast("double")).as("trim_mean_c"))
  }

  val a24_outlier_mad: Q = (spark, dir) => {
    val x = events(spark, dir).select(col("event_id"), col("event_type"),
      graft.Tables.cents(col("value")).cast("long").as("xc"))
    x.join(broadcast(madThresholds(spark, dir)), "event_type")
      .withColumn("dev", abs(col("xc") - col("med")))
      .where(col("dev") * 10000 > col("mad") * 44478)
      .select(col("event_id"), col("event_type"), col("xc"),
        col("med"), col("mad"), col("dev"))
  }

  /** a22 — INCREMENTAL AGGREGATE MAINTENANCE (materialized-view
    * refresh): tonight's per-customer totals computed WITHOUT
    * rescanning history — the standing aggregate (landed nightly,
    * |keys| rows) unions the delta's partial aggregate and one keyed
    * merge re-sums, exploiting that count/sum are ALGEBRAIC (partials
    * merge losslessly; the d11 `% 10` delta convention). At 100 TB
    * this is the difference between a refresh that scans the delta
    * plus a |keys|-row artifact and one that scans the table. For
    * non-algebraic measures the engine's mergeable-summary family
    * (a14 quantiles, a15 heavy hitters, a17 KMV, a20 HLL) is exactly
    * what rides this same union-merge path. Integer cents keep the
    * merge associative; the oracle recomputes from scratch, proving
    * increment ≡ full.
    */
  val a22_incremental_agg: Q = (spark, dir) => {
    val baseAgg = spark.read.parquet(s"${mvBase(spark, dir)}/base")
    val deltaAgg = orders(spark, dir).where(col("o_orderkey") % 10 === 0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("cents"))
    baseAgg.unionAll(deltaAgg)
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        (sum(col("cents")) / 100).as("total_spend"))
  }

  // --------------------------------------------------------------------
  // W — analytic windows
  // --------------------------------------------------------------------

  /** W3 — payment allocation: proportional split with last-line
    * remainder (dws/OrderWiderApp.scala:157-199). Per order, each line
    * gets `round(total * line/Σlines)`; the final line takes
    * `total − Σ(previous allocations)` so the per-order sum is exact.
    * All arithmetic in integer cents (exact doubles) for determinism —
    * fixing the reference's integer-division truncation bug at :183 and
    * its cross-partition Redis race (SURVEY §7.1).
    */
  /** w04 — ANALYTIC WINDOW BATTERY: the ranking/distribution function
    * surface (rank, dense_rank, percent_rank, cume_dist, ntile,
    * lag/lead) in one pass per event — the §2.7 analog of f01's scalar
    * battery. Two frames, chosen for DETERMINISM: the rank family
    * runs over the COARSE per-user day order (real ties, so rank ≠
    * dense_rank ≠ row_number actually exercises tie semantics — tie
    * functions are order-insensitive within a tie group), while the
    * value-picking functions (lag/lead/ntile) run over the FULLY
    * UNIQUE (ts, event_id) order — a value function over a tied order
    * is nondeterministic, the classic window bug. percent_rank and
    * cume_dist are ratios of the same integers in both engines —
    * identical IEEE doubles.
    *
    * Scale shape: both frames share the user_id partitioning — ONE
    * exchange, two in-partition sorts; no joins, no state.
    */
  val w04_window_battery: Q = (spark, dir) => {
    val coarse = Window.partitionBy(col("user_id")).orderBy(col("dt"))
    val fine = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), to_date(col("ts")).as("dt"))
      .select(col("event_id"), col("user_id"),
        rank().over(coarse).cast("long").as("rnk"),
        dense_rank().over(coarse).cast("long").as("drnk"),
        percent_rank().over(coarse).as("pr"),
        cume_dist().over(coarse).as("cd"),
        ntile(4).over(fine).cast("long").as("tile4"),
        lag(col("event_id"), 1).over(fine).as("prev_id"),
        lead(col("event_id"), 1).over(fine).as("next_id"))
  }

  /** w06 — ROLLING-FRAME AGGREGATES, the frame classes w04's battery
    * leaves out: a trailing ROWS frame (this event + its 6
    * predecessors — "last 7 interactions" features) and a trailing
    * event-time RANGE frame (everything within the past hour —
    * "activity in the last hour" features, where equal timestamps
    * all enter the frame whatever the tiebreak). The pair matters
    * because they answer different product questions and degrade
    * differently under burstiness: a ROWS frame is O(1) rows however
    * bursty the user, a RANGE frame is O(rate·window). Sums ride
    * exact integer cents; the mean is one double division of exact
    * integers (correctly rounded → engine-identical).
    *
    * Scale shape: ONE hash(user_id) exchange and ONE sort — the ROWS
    * frame orders by (tsu, event_id), the RANGE frame's required
    * (tsu) ordering is a prefix of it, so Catalyst stacks both
    * Window nodes on the same sorted distribution. Trailing frames
    * stream in one pass (no re-scan per row); at 100 TB this is a
    * per-user sequential sweep, the same shape as j12/j14.
    */
  val w06_rolling_stats: Q = (spark, dir) => {
    val rows7 = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
      .rowsBetween(-6, Window.currentRow)
    val hour = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"))
      .rangeBetween(-3600000000L, Window.currentRow)
    events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"),
        graft.Tables.cents(col("value")).cast("long").as("c"))
      .select(col("event_id"), col("user_id"), col("tsu"), col("c"),
        sum(col("c")).over(rows7).as("roll7_sum"),
        count(lit(1)).over(rows7).as("roll7_n"),
        max(col("c")).over(rows7).as("roll7_max"),
        (sum(col("c")).over(rows7).cast("double") /
          count(lit(1)).over(rows7).cast("double")).as("roll7_avg"),
        sum(col("c")).over(hour).as("hr_sum"),
        count(lit(1)).over(hour).as("hr_n"))
  }

  /** w08 — GROWTH ACCOUNTING (new vs cumulative users per day): the
    * registration-curve pair every growth dashboard opens with —
    * n_new (users whose FIRST-ever activity is this day) and n_cum
    * (distinct users seen to date). The cumulative series is the
    * canonical "running distinct" trap: a running COUNT DISTINCT
    * window re-scans history per day, while first-seen-day converts
    * it to a plain running SUM — distinct once per user, cumulative
    * arithmetic over |days| rows (a26's mergeable-summary answer is
    * for SLIDING windows; growth's expanding window needs no sketch
    * because first-seen is a one-shot event).
    *
    * Scale shape: one user-keyed min-aggregation (map-side partials),
    * one |days| rollup, one running sum over the bounded day series
    * (single partition BY CONSTRUCTION — |days| rows, not data
    * scale). Days with no new users don't appear (emitting them
    * needs a calendar spine — deliberately out: the series is keyed
    * by first-seen days).
    */
  val w08_cumulative_users: Q = (spark, dir) =>
    cumulativeUsersOf(firstDayOf(events(spark, dir)))

  /** w08's per-user first active day — st63 upserts it from its event
    * stream.
    */
  private[graft] def firstDayOf(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id")).agg(min(col("day")).as("first_day"))

  /** w08's daily new-user counts and running total over the
    * (user_id, first_day) grain — st63 runs them on read.
    */
  private[graft] def cumulativeUsersOf(firstDay: DataFrame): DataFrame = {
    val daily = firstDay.groupBy(col("first_day"))
      .agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("first_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_cum", sum(col("n_new")).over(w))
      .select(date_format(col("first_day"), "yyyy-MM-dd").as("dt"),
        col("n_new"), col("n_cum").cast("long").as("n_cum"))
  }

  /** w07 — SEQUENCE-PATTERN MATCH (the CEP / MATCH_RECOGNIZE class):
    * find click → purchase WITHIN 1 hour WITH NO error BETWEEN, per
    * user — the "A then B within T, no C between" pattern every
    * funnel/fraud/alerting pipeline needs and Spark has no native
    * operator for (Flink CEP's bread and butter; SQL:2016
    * MATCH_RECOGNIZE). a09's funnel counts stage reachability; this
    * emits the matched INSTANCES with their witness rows.
    *
    * Scale shape — the negation is the hard part: "no C between" is
    * naively a per-pair interval anti-join (quadratic per user).
    * Here every predicate folds into ONE ordered sweep: under the
    * total (tsu, tag, event_id) order, carry a running error COUNT
    * and the last click (id, tsu, and the count AT that click) —
    * then a purchase matches iff its carried click is within the
    * hour AND the error count hasn't moved since the click. ONE
    * user_id exchange + one sort, O(n log n) — the j12 sweep with a
    * monotone counter standing in for the NOT EXISTS. The DuckDB
    * twin deliberately runs the quadratic correlated form (latest
    * prior click + NOT EXISTS error in the open interval) so the
    * differential checks the pattern semantics, not the plan. Ties:
    * clicks sort before errors before purchases at one instant, so
    * an instant-sharing error does sit "between".
    */
  val w07_sequence_match: Q = (spark, dir) =>
    sequenceMatch(events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"),
        col("event_id")))

  /** [[w07_sequence_match]]'s sweep over an arbitrary
    * (user_id, event_type, tsu, event_id) relation — exposed so the
    * spec can pin the negation and instant-tie semantics on a
    * hand-built event log.
    */
  private[graft] def sequenceMatch(events: DataFrame): DataFrame = {
    val ev = events
      .where(col("event_type").isin("click", "purchase", "error"))
      .select(col("user_id"), col("event_type"), col("tsu"), col("event_id"),
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "error", 1).otherwise(2).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("err_cnt",
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_tsu",
        last(when(col("event_type") === "click", col("tsu")), ignoreNulls = true).over(w))
      .withColumn("click_err",
        last(when(col("event_type") === "click", col("err_cnt")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("click_tsu").isNotNull &&
        col("tsu") - col("click_tsu") <= 3600000000L &&
        col("err_cnt") === col("click_err"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_id"), col("click_tsu"), col("tsu").as("purchase_tsu"),
        (col("tsu") - col("click_tsu")).as("gap_us"))
  }

  val w03_payment_allocation: Q = (spark, dir) => {
    val oi = orders(spark, dir)
    val od = lineitem(spark, dir)
    val joined = od.join(oi, od("l_orderkey") === oi("o_orderkey"))
      .select(
        od("l_orderkey").as("order_id"),
        od("l_linenumber").as("line_id"),
        cents(od("l_extendedprice")).as("line_cents"),
        cents(oi("o_totalprice")).as("total_cents"))
    // order by (line_id, line_cents): line_id alone is not unique; adding
    // line_cents makes any remaining ties carry identical values through
    // the allocation, so the output multiset is deterministic.
    val wOrd = Window.partitionBy(col("order_id")).orderBy(col("line_id"), col("line_cents"))
    val wAll = Window.partitionBy(col("order_id"))
    // floor, not round: Spark rounds the shortest decimal string
    // (BigDecimal HALF_UP), DuckDB rounds the binary double — they
    // disagree on x.5 boundaries. floor is bit-identical in both.
    val prop = floor(col("total_cents") * col("line_cents") / col("sum_line_cents"))
    joined
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_lines", count(lit(1)).over(wAll))
      .withColumn("sum_line_cents", sum(col("line_cents")).over(wAll))
      .withColumn("prop_cents", prop)
      .withColumn("alloc_cents",
        when(col("rn") === col("n_lines"),
          col("total_cents") - (sum(prop).over(wAll) - prop))
          .otherwise(prop))
      .select(
        col("order_id"), col("line_id"),
        (col("line_cents") / 100).as("sku_total"),
        (col("alloc_cents") / 100).as("final_detail_amount"))
  }

  // --------------------------------------------------------------------
  // F — scalar function battery (§2.8)
  // --------------------------------------------------------------------

  /** §2.8 — the reference's full row-wise scalar surface in one
    * projection: split, concat, substring/equality, upper/lower,
    * coalesce/null-guard, 2-dp rounding, arithmetic.
    */
  /** The 21-bit Morton bit-spread stages as (shift, mask) pairs —
    * decimal literals interpolated into BOTH engines from this one
    * list, so the interleave arithmetic cannot drift.
    */
  private[graft] val MortonStages: Seq[(Int, Long)] = Seq(
    32 -> 8725724278095871L, 16 -> 8725728556220671L,
    8 -> 1157144660301377551L, 4 -> 1207822528635744451L,
    2 -> 1317624576693539401L)

  private def mortonSpread(c: Column): Column =
    MortonStages.foldLeft(c.bitwiseAND(lit(0x1fffffL))) { case (x, (sh, m)) =>
      (x.bitwiseOR(shiftleft(x, sh))).bitwiseAND(lit(m))
    }

  /** Z-ORDER KEY (Morton interleave) of two 21-bit dimensions —
    * [[f02_zorder_key]]'s kernel and the sort key of the multi-column
    * data-skipping layout: sorting files by this key tightens per-file
    * min/max ranges on BOTH dimensions at once, where a linear sort
    * tightens one and leaves the other full-width (the OPTIMIZE
    * ZORDER technique; `RelationalSpec` measures exactly that on two
    * written layouts). Pure codegen'd bitwise arithmetic — no UDF.
    */
  private[graft] def morton2(a: Column, b: Column): Column =
    mortonSpread(a).bitwiseOR(shiftleft(mortonSpread(b), 1))

  /** f02 — the z-order key battery over events: each row's
    * (user_id, day-index) interleave, plus the spread stages exposed
    * for the differential (both engines run the identical
    * shift-or-mask cascade off [[MortonStages]]).
    */
  val f02_zorder_key: Q = (spark, dir) => {
    val day = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
      .cast("long")
    events(spark, dir)
      .select(col("event_id"), col("user_id"), day.as("day_idx"),
        morton2(col("user_id"), day).as("zkey"))
  }

  val f01_scalar_suite: Q = (spark, dir) => {
    part(spark, dir).select(
      col("p_partkey"),
      split(col("p_type"), " ").getItem(0).as("type_head"),
      concat_ws("|", col("p_brand"), col("p_name")).as("brand_name"),
      upper(col("p_brand")).as("brand_upper"),
      lower(col("p_type")).as("type_lower"),
      substring(col("p_name"), 1, 5).as("name5"),
      coalesce(col("p_type"), lit("unknown")).as("type_nn"),
      // integer-cents form of round(x*1.1, 2): Spark's round(d, 2) goes
      // through BigDecimal shortest-string semantics, DuckDB rounds in
      // binary — they can disagree on decimal-exact halfway inputs.
      (round(col("p_retailprice") * lit(110)) / 100).as("uplift"),
      (col("p_size") + 1).as("size_next"),
      (col("p_retailprice") > 1000).as("is_premium"))
  }

  /** f05 — CONDITIONAL/NULL SCALAR BATTERY (§2.8's third leg): the
    * null-propagation surface where engines classically diverge —
    * `least`/`greatest` SKIP nulls on both Spark and DuckDB (pinned
    * here by differential, not assumption), `nullif`-made nulls fall
    * through `coalesce`, a NULL comparison falls to CASE's ELSE
    * branch, and `if`/chained-`when` ladders agree. Pure projection;
    * no shuffle.
    */
  val f05_conditional_suite: Q = (spark, dir) => {
    val szn = nullif(col("p_size"), lit(1)).cast("long")
    part(spark, dir).select(
      col("p_partkey"),
      szn.as("sz_n"),
      coalesce(szn, lit(-1L)).as("sz_or_neg"),
      least(szn, lit(25L)).as("least_skips_null"),
      greatest(szn, lit(25L)).as("greatest_skips_null"),
      when(col("p_size") > 25, "L").when(col("p_size") > 10, "M")
        .otherwise("S").as("size_class"),
      (szn > 25).as("null_gt"),
      expr("case when nullif(p_size, 1) > 25 then 'big' else 'not-big' end")
        .as("case_null_else"),
      expr("if(p_size % 2 = 0, 'even', 'odd')").as("parity"))
  }

  /** f06 — AGGREGATE-FUNCTION PARITY BATTERY (§2.8's aggregate leg):
    * the exact-integer/boolean aggregate surface beyond sum/count —
    * bitwise AND/OR/XOR folds (order-free by algebra), bool_and/
    * bool_or, count_if, and min/max over VARCHAR (binary collation on
    * both engines — the place a locale-collated engine would silently
    * reorder). One brand-keyed exchange with map-side partials.
    */
  val f06_agg_suite: Q = (spark, dir) => {
    part(spark, dir).groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        expr("bit_and(p_size)").cast("long").as("size_and"),
        expr("bit_or(p_size)").cast("long").as("size_or"),
        expr("bit_xor(p_size)").cast("long").as("size_xor"),
        expr("bool_and(p_size > 5)").as("all_gt5"),
        expr("bool_or(p_size > 45)").as("any_gt45"),
        expr("count_if(p_size % 2 = 0)").cast("long").as("n_even"),
        min(col("p_name")).as("name_min"),
        max(col("p_name")).as("name_max"))
  }

  /** f12 — TRY_* ANSI-SAFE ARITHMETIC BATTERY (§2.8's error-handling
    * leg): the sessions run ANSI mode, where overflow/bad-cast/
    * zero-division THROW (the a48 lesson) — `try_add`/`try_multiply`/
    * `try_divide`/`try_cast`/`try_element_at`/`try_to_number` are the
    * per-row error-to-NULL escape hatch a pipeline uses for columns
    * it cannot pre-validate, and every lane here is MIXED (some rows
    * NULL, some valued, derived from p_size) so the differential
    * proves the error boundary, not just the happy path. Construction
    * care: a TRY function only catches ITS OWN operation, so the
    * overflow operand `k = p_size % 12 - 6` is sized to keep every
    * INNER expression in int64 range — only the outer try-op
    * overflows. DuckDB has no try-arithmetic, so the oracle derives
    * the same lanes structurally: HUGEINT range-check CASE for the
    * overflow lanes, TRY_CAST (which DuckDB does have) for the cast
    * lanes, native out-of-range list indexing for element_at.
    * Row-local projection, zero exchanges.
    */
  val f12_try_suite: Q = (spark, dir) =>
    part(spark, dir).selectExpr(
      "p_partkey",
      "try_add((p_size % 12 - 6) * 400000000000000000L, 8000000000000000000L) AS ta",
      "try_multiply(cast(p_size % 12 - 6 AS long), 2000000000000000000L) AS tm",
      "try_divide(100, p_size % 3 - 1) AS td",
      "try_cast(concat(CASE WHEN p_size % 2 = 0 THEN '' ELSE 'x' END, " +
        "cast(p_size AS string)) AS int) AS tc_int",
      "try_cast(concat('2024-02-', lpad(cast(p_size AS string), 2, '0')) AS date) AS tc_date",
      "try_element_at(array(10, 20, 30), p_size % 5 + 1) AS tea",
      "cast(try_to_number(CASE WHEN p_size % 2 = 0 THEN '1,234' " +
        "ELSE concat('x', cast(p_size AS string)) END, '9,999') AS long) AS ttn")

  /** f13 — VARIANT (SEMI-STRUCTURED) BATTERY: Spark 4's VariantType
    * surface — `try_parse_json` → binary-shredded variant,
    * `variant_get` / `try_variant_get` typed extraction (including a
    * nested path), and `is_variant_null` (JSON null is a VALUE, not
    * SQL NULL — the distinction fastjson callers get wrong, e.g. the
    * reference's bare `JSON.parseObject` chain ods/KafkaToODS_M
    * .scala:47). The corpus plants four deterministic payload lanes
    * off the events scan: a full envelope with a nested object, a
    * JSON-null field, a wrong-typed (string) field, and a TRUNCATED
    * payload — so every extraction column exercises its miss path
    * (parse failure → SQL NULL envelope; JSON null → extraction NULL
    * but is_variant_null TRUE; type mismatch → try_variant_get NULL).
    * DuckDB has no variant type; the oracle derives the same verdicts
    * from its JSON primitives (json_valid / json_type / typed
    * json_extract), which is the point — the VERDICTS are
    * engine-portable even though the encoding is not. Every output
    * column is scalarized (bool/long/varchar); no variant reaches the
    * sink.
    *
    * 100 TB adjudication (variant vs the declared-schema `from_json`
    * p01 uses): parse ONCE into shredded binary variant when the
    * envelope schema is open or drifting — sub-columnar shredding
    * lets later readers extract paths without re-parsing text, and
    * schema evolution is free because no StructType is declared.
    * Keep `from_json` + StructType when the schema is a closed
    * contract: Catalyst prunes unrequested fields at parse time and
    * the plan carries real column-level types end-to-end. Row-local
    * projection either way — zero exchanges in this battery.
    */
  val f13_variant_suite: Q = (spark, dir) => {
    val payload =
      when(col("event_id") % 4 === 0,
        concat(lit("{\"k\": "), col("user_id").cast("string"),
          lit(", \"tag\": \""), col("event_type"),
          lit("\", \"nested\": {\"v\": "),
          (col("event_id") % 100).cast("string"), lit("}}")))
      .when(col("event_id") % 4 === 1,
        concat(lit("{\"k\": null, \"tag\": \""), col("event_type"),
          lit("\"}")))
      .when(col("event_id") % 4 === 2,
        concat(lit("{\"k\": \"s"), col("user_id").cast("string"),
          lit("\", \"tag\": \""), col("event_type"), lit("\"}")))
      .otherwise(concat(lit("{\"k\": "), col("user_id").cast("string")))
    events(spark, dir)
      .select(col("event_id"), payload.as("payload"))
      .withColumn("v", try_parse_json(col("payload")))
      .select(
        col("event_id"),
        col("v").isNotNull.as("parsed_ok"),
        try_variant_get(col("v"), "$.k", "long").as("k_long"),
        when(col("v").isNotNull,
          expr("is_variant_null(variant_get(v, '$.k'))")).as("k_is_json_null"),
        try_variant_get(col("v"), "$.tag", "string").as("tag"),
        try_variant_get(col("v"), "$.nested.v", "long").as("nested_v"))
  }

  /** f14 — NATIVE UNPIVOT (melt): the built-in wide→long rotation
    * (`Dataset.unpivot`, Spark 3.4+'s ANSI UNPIVOT surface) over
    * lineitem's four measure columns — the operator q01's profile
    * hand-rolls with `inline(array(struct...))` (kept there because
    * its per-column structs carry heterogeneous renderings; this is
    * the homogeneous-measure case the built-in exists for). Values
    * pass through UNTOUCHED — both engines emit the stored IEEE
    * doubles and the column NAMES as the variable — so the melt is
    * hash-exact with zero arithmetic. Shuffle-free: unpivot is a
    * row-local Expand (4× thin rows), the long-format feed a measure
    * store or a per-measure profiler reads; at 100 TB the flip side
    * is priced exactly like q01's Expand — 4× the rows through the
    * exchange IF an aggregation follows, which is why q01x's
    * sketch-per-column exists.
    */
  val f14_unpivot_melt: Q = (spark, dir) =>
    lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "measure", "val")

  /** f15 — LATERAL JOIN (correlated subquery decorrelation): each
    * order joined laterally to an aggregate over ITS lines — the ANSI
    * LATERAL keyword, which Catalyst decorrelates into a plain
    * aggregate + equi-join (visible in the locked plan: no per-row
    * subquery execution survives, `DecorrelateInnerQuery` rewrites
    * the correlation into a group-by on the correlation key). That
    * rewrite is the scale story: a naive per-outer-row subquery is
    * O(|orders|) scans; the decorrelated form is ONE lineitem
    * aggregate joined back ONCE, any table size. The exact plan
    * (scan-budget-locked at orders=2): Catalyst builds the
    * correlation DOMAIN — a second, single-column pruned orders scan
    * feeding DISTINCT o_orderkey — left-joins the lineitem aggregate
    * onto it so empty groups exist as rows (the classic COUNT-bug
    * handling: COUNT over no lines must surface as 0, not vanish),
    * then joins the domain back to the full orders scan. LEFT LATERAL
    * so the ~1.7% line-less orders survive (the j06 completion
    * discipline); COUNT comes back 0 via COALESCE on both engines.
    */
  val f15_lateral_join: Q = (spark, dir) => {
    lineitem(spark, dir).createOrReplaceTempView("f15_lineitem")
    orders(spark, dir).createOrReplaceTempView("f15_orders")
    spark.sql(
      """SELECT o.o_orderkey, o.o_custkey,
                t.n_lines, t.max_price_c, t.sum_qty
         FROM f15_orders o
         LEFT JOIN LATERAL (
           SELECT COUNT(*) AS n_lines,
                  CAST(MAX(ROUND(l.l_extendedprice * 100)) AS BIGINT)
                    AS max_price_c,
                  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                    AS sum_qty
           FROM f15_lineitem l
           WHERE l.l_orderkey = o.o_orderkey
         ) t""")
      .select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        col("max_price_c"), col("sum_qty"))
  }

  /** Write-once variant-storage fixture for [[f16_variant_storage]]:
    * one parquet table per (session, sfDir) carrying a REAL
    * VariantType column (s16's appId-keyed scratch pattern).
    */
  private val variantTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def variantTableDir(spark: SparkSession, dir: String): String =
    variantTableCache.computeIfAbsent(
      spark.sparkContext.applicationId + "#" + dir, _ => {
        val p = graft.Tables.scratchDir("graft_variant_")
        // to_json(struct(...)) instead of string concat: a string-typed
        // or absent props.k can no longer produce invalid JSON (strict
        // parse_json would throw) or null-propagate the whole envelope
        // (the oracle emits et/uid unconditionally) — try_cast mirrors
        // the oracle's TRY_CAST, and to_json drops a null k field,
        // which the variant reads back as the same null.
        events(spark, dir)
          .select(col("event_id"),
            parse_json(to_json(struct(
              expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
                .as("k"),
              col("event_type").as("et"),
              col("user_id").as("uid")))).as("v"))
          .write.mode("overwrite").parquet(p)
        p
      })

  /** f16 — VARIANT PHYSICAL STORAGE round trip (the z04 discipline
    * applied to the f13/p27 compute story): the parsed variant is
    * actually LANDED in parquet — Spark 4 writes VariantType as the
    * two-binary (metadata, value) group — and read back by a second
    * scan that extracts typed paths from the STORED binary without
    * any re-parse of JSON text. That is the claim f13's adjudication
    * makes ("parse once, every later reader extracts paths"): here it
    * is physically true — the docstring plan shows the round-trip
    * scan reading the variant group, and the differential proves the
    * stored encoding decodes to the same values the original text
    * carried (DuckDB oracle re-derives them from the source JSON).
    * One write + one scan; extraction is row-local.
    */
  val f16_variant_storage: Q = (spark, dir) => {
    val table = spark.read.parquet(variantTableDir(spark, dir))
    table.select(col("event_id"),
      try_variant_get(col("v"), "$.k", "long").as("k_long"),
      try_variant_get(col("v"), "$.et", "string").as("et"),
      try_variant_get(col("v"), "$.uid", "long").as("uid"))
  }

  /** f17 — OBSERVED METRICS (`Dataset.observe` + `Observation`): the
    * pipeline-SLA counters the reference logs by hand (per-batch
    * count prints scattered through its apps) as Spark's built-in
    * observation surface — AccumulatorV2-backed aggregates that ride
    * an EXISTING action's pass and surface as one metrics row, no
    * second scan of the data. Here the action is a noop write (this
    * registry has no real sink); in production the observe() clause
    * attaches to the job's actual write and the metrics are free —
    * that is the 100 TB point: a monitoring query that re-scans the
    * fact table to count rows costs a full pass; an observation
    * costs nothing. The returned relation is the one metrics row
    * (driver-side by the API's design — a fixed-size aggregate
    * result, not row data); money lands as integer cents and dates
    * as ISO strings, the usual portability renderings.
    */
  val f17_observed_metrics: Q = (spark, dir) => {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation("f17")
    lineitem(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(cents(col("l_extendedprice"))).cast("long").as("sum_price_c"),
        min(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("min_ship"),
        max(date_format(col("l_shipdate"), "yyyy-MM-dd")).as("max_ship"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("sum_price_c").asInstanceOf[Long],
      m("min_ship").asInstanceOf[String], m("max_ship").asInstanceOf[String]))
      .toDF("n_rows", "sum_price_c", "min_ship", "max_ship")
  }

  /** f18 — FILE-METADATA (lineage) COLUMNS: the hidden `_metadata`
    * struct every file source exposes (SPARK-37273), projected and
    * rolled up into a per-file audit — which physical file carries
    * which id range and how many rows. This is data lineage at the
    * scan, not a catalog lookup: at 100 TB the same query over a
    * multi-thousand-file table is the reconciliation audit that
    * answers "which file did this row come from" without a manifest
    * (and the grain z03's compaction planner consumes). The driver
    * fixture is one file per table, so the output is a 1-row audit —
    * the SURFACE under test is the metadata column resolution and
    * its pushdown-compatibility (the scan still prunes to doc_id +
    * metadata), not the file count.
    */
  val f18_file_metadata: Q = (spark, dir) =>
    documents(spark, dir)
      .select(col("_metadata.file_name").as("file_name"), col("doc_id"))
      .groupBy(col("file_name"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  /** f19 — XML PARSING (`from_xml`, Spark 4's built-in XML surface —
    * the third envelope format after JSON p01/f13 and variant p27):
    * four planted lanes off the events scan — full record, missing
    * field, wrong-typed field, truncated document — parsed against a
    * declared schema in PERMISSIVE mode with a corrupt-record column,
    * so every extraction exercises its miss path: absent → NULL field
    * only; type mismatch and truncation → FULL-RECORD corruption (the
    * XML parser, unlike the CSV one, keeps no partial fields on a
    * cast failure — measured, encoded in the oracle). DuckDB has no
    * XML type; the oracle derives the same
    * verdicts from the lane construction — which is the point, the
    * VERDICTS are format-independent. Row-local projection, zero
    * exchanges; the 100 TB adjudication is f13's verbatim (declared
    * schema when the contract is closed, variant when it drifts —
    * XML gets no variant lane, so the declared form is the only one).
    */
  val f19_xml_suite: Q = (spark, dir) => {
    import org.apache.spark.sql.types._
    val xml =
      when(col("event_id") % 4 === 0,
        concat(lit("<r><k>"), col("user_id").cast("string"),
          lit("</k><tag>"), col("event_type"), lit("</tag></r>")))
      .when(col("event_id") % 4 === 1,
        concat(lit("<r><tag>"), col("event_type"), lit("</tag></r>")))
      .when(col("event_id") % 4 === 2,
        concat(lit("<r><k>x"), col("user_id").cast("string"),
          lit("</k><tag>"), col("event_type"), lit("</tag></r>")))
      .otherwise(concat(lit("<r><k>"), col("user_id").cast("string")))
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("tag", StringType),
      StructField("_corrupt_record", StringType)))
    events(spark, dir)
      .select(col("event_id"), xml.as("xml"))
      .withColumn("p", from_xml(col("xml"), schema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record").asJava))
      .select(col("event_id"),
        col("p._corrupt_record").isNotNull.as("corrupt"),
        col("p.k").as("k_long"),
        col("p.tag").as("tag"))
  }

  /** f20 — CSV LINE PARSING (`from_csv`/`to_csv` — the delimited
    * twin of p01's JSON envelope; the reference's TSV-ish log lines,
    * e.g. app/Dau.scala's split-on-delimiter start logs): a
    * deterministic 3-field line synthesized per event, parsed against
    * a declared schema (typed extraction + corrupt-record lane for a
    * non-numeric field), and the struct serialized BACK with `to_csv`
    * — the round trip pins both directions of the codec. Lanes:
    * clean line / wrong-typed numeric / short line — BOTH defect
    * lanes flag the corrupt-record column while keeping the fields
    * that did parse (measured: unlike XML's full-record corruption,
    * CSV retains eid/et beside a null uid). Row-local, zero
    * exchanges.
    */
  val f20_csv_suite: Q = (spark, dir) => {
    val line =
      when(col("event_id") % 3 === 0,
        concat_ws(",", col("event_id").cast("string"), col("event_type"),
          col("user_id").cast("string")))
      .when(col("event_id") % 3 === 1,
        concat_ws(",", col("event_id").cast("string"), col("event_type"),
          concat(lit("x"), col("user_id").cast("string"))))
      .otherwise(concat_ws(",", col("event_id").cast("string"),
        col("event_type")))
    val opts = Map("mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    events(spark, dir)
      .select(col("event_id"), line.as("line"))
      .withColumn("p", from_csv(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "eid BIGINT, et STRING, uid BIGINT, _corrupt_record STRING"),
        opts))
      .select(col("event_id"),
        col("p.eid").as("eid"), col("p.et").as("et"),
        col("p.uid").as("uid"),
        col("p._corrupt_record").isNotNull.as("corrupt"),
        to_csv(struct(col("p.eid"), col("p.et"))).as("round_trip"))
  }

  /** f21 — URL ANALYSIS (`parse_url` + percent codecs): referrer /
    * landing-page decomposition — HOST, PATH, full QUERY and one
    * keyed QUERY parameter — over a deterministic URL synthesized per
    * event, plus `url_encode` of a reserved-character value and
    * `try_url_decode` on a PLANTED malformed percent-escape (null,
    * not a crash — the try-function discipline of f12). DuckDB has
    * no parse_url; its twin derives the same pieces with regexps,
    * which is the portability claim: URL STRUCTURE is regular. The
    * encode input avoids the one cross-codec divergence (space:
    * java's form-encoding emits '+', RFC percent-encoding %20) —
    * pinned to reserved chars both sides emit as uppercase %XX.
    * Row-local, zero exchanges.
    */
  val f21_url_suite: Q = (spark, dir) => {
    val url = concat(lit("https://ex.com/cat/"), col("event_type"),
      lit("/item?uid="), col("user_id").cast("string"),
      lit("&src=ads&eid="), col("event_id").cast("string"))
    val bad = when(col("event_id") % 5 === 0, lit("%zz"))
      .otherwise(lit("a%2Fb"))
    events(spark, dir)
      .select(col("event_id"), url.as("url"), bad.as("bad"),
        url_encode(concat(lit("v/"), col("event_type"), lit(":1")))
          .as("enc"))
      .select(col("event_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY")).as("qstring"),
        parse_url(col("url"), lit("QUERY"), lit("uid")).as("q_uid"),
        col("enc"),
        try_url_decode(col("bad")).as("decoded"))
  }

  /** f22 — SQL PIPE SYNTAX (Spark 4's `|>` operator chain,
    * SPARK-49555): the brand-revenue star join written as a linear
    * pipeline — FROM … |> JOIN |> WHERE |> AGGREGATE … GROUP BY |>
    * WHERE (post-aggregation, the HAVING position) |> ORDER BY |>
    * LIMIT — proving the new surface end-to-end against a classic-SQL
    * DuckDB twin. Same Catalyst plan as the nested form (pipe is
    * pure syntax), so the scale shape is a01/a05's: one broadcast-or-
    * shuffle dim join, map-side partial aggregation, a TopK sort.
    */
  val f22_pipe_syntax: Q = (spark, dir) => {
    lineitem(spark, dir).createOrReplaceTempView("f22_lineitem")
    part(spark, dir).createOrReplaceTempView("f22_part")
    spark.sql(
      """FROM f22_lineitem
         |> JOIN f22_part ON l_partkey = p_partkey
         |> WHERE p_size <= 25
         |> AGGREGATE CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT)
              AS cents, COUNT(*) AS n_lines
            GROUP BY p_brand
         |> WHERE n_lines > 50
         |> ORDER BY cents DESC, p_brand
         |> LIMIT 10""")
  }

  /** f23 — RECURSIVE CTE (Spark 4's `WITH RECURSIVE`): subtree
    * rollup over a category HIERARCHY — the reference's 3-level
    * category dims (GMALL's base_category1/2/3 chain its ADS queries
    * climb) generalized to a depth-6 binary tree: each part hangs off
    * leaf 32 + (p_partkey % 32), internal node n parents n÷2, and the
    * recursion walks every leaf's revenue up its ancestor PATH; the
    * final GROUP BY yields each node's SUBTREE total (a node receives
    * exactly its descendants' leaf values — the category-rollup
    * answer a rollup()/cube() cannot give on a parent-POINTER
    * encoding). Termination is structural (node halves each step,
    * depth 6); both engines run the identical iteration, and integer
    * cents keep every partial exact. Scale shape: the recursive step
    * multiplies rows by tree DEPTH (×6 here — log |nodes|), each
    * iteration a map-side projection; one final grid-bounded (63-row)
    * aggregate.
    */
  val f23_recursive_cte: Q = (spark, dir) => {
    lineitem(spark, dir).createOrReplaceTempView("f23_lineitem")
    part(spark, dir).createOrReplaceTempView("f23_part")
    spark.sql(
      """WITH RECURSIVE leaf AS (
           SELECT 32 + p_partkey % 32 AS node,
                  CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT)
                    AS cents
           FROM f23_lineitem JOIN f23_part ON l_partkey = p_partkey
           GROUP BY 1),
         up(node, cents) AS (
           SELECT node, cents FROM leaf
           UNION ALL
           SELECT node DIV 2, cents FROM up WHERE node > 1)
         SELECT node, CAST(SUM(cents) AS BIGINT) AS subtree_cents,
                CAST(COUNT(*) AS BIGINT) AS n_leaves
         FROM up GROUP BY node""")
  }

  /** f11 — ORDERED-SET AGGREGATE BATTERY (§2.8's remaining aggregate
    * leg, new in Spark 4's ANSI WITHIN GROUP surface): `listagg`
    * (plain and DISTINCT, both under an explicit WITHIN GROUP order —
    * an UNORDERED listagg is nondeterministic by definition and
    * banned from this suite), `percentile_cont` at the three dyadic
    * quartiles (exact: integer operands through one interpolation
    * `a + (b-a)·q` with q a power-of-two sum — both engines evaluate
    * the identical IEEE expression), `percentile_disc` (both engines
    * define it as the smallest value with cume_dist ≥ q; cast to
    * DOUBLE on both sides because Spark returns DOUBLE where DuckDB
    * keeps the input type), `median` (even-count groups average two
    * ints — exact halves), and `max_by`/`min_by` over a UNIQUIFIED
    * ordering key (size·100000 + partkey — max_by on a tied key is
    * nondeterministic in both engines, the `mode()` problem; the
    * unique composite makes the winner well-defined: largest size,
    * partkey tiebreak). DuckDB spells the same functions
    * string_agg/quantile_cont/quantile_disc/arg_max/arg_min — the
    * names differ, the ANSI semantics match, which is exactly what
    * the battery proves. Native `mode()` is deliberately ABSENT: on
    * tied multiplicities both engines return an arbitrary winner, so
    * no deterministic oracle exists (a53's count+order decomposition
    * is the deterministic form).
    *
    * One hash-partition exchange on p_brand; the sort each ordered
    * aggregate needs happens inside the per-group aggregation, not as
    * a plan-level global sort.
    */
  val f11_ordered_agg_suite: Q = (spark, dir) => {
    part(spark, dir)
      .withColumn("szkey", col("p_size") * 100000L + col("p_partkey") % 100000L)
      .groupBy(col("p_brand"))
      .agg(
        expr("listagg(p_type, '|') WITHIN GROUP (ORDER BY p_type)")
          .as("types_all"),
        expr("listagg(DISTINCT p_type, '|') WITHIN GROUP (ORDER BY p_type)")
          .as("types_distinct"),
        expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY p_size)").as("p25"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY p_size)").as("p50"),
        expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY p_size)").as("p75"),
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY p_size)")
          .cast("double").as("pd25"),
        expr("median(p_size)").cast("double").as("med"),
        expr("max_by(p_name, szkey)").as("name_of_max"),
        expr("min_by(p_name, szkey)").as("name_of_min"))
  }

  /** f07 — WINDOW-FUNCTION PARITY BATTERY (§2.8's ranking leg): the
    * full ranking/navigation surface over one per-user event ordering
    * — row_number/rank (≡ here: the (tsu, event_id) key is unique),
    * lead/lag with defaulted nulls, ntile(4) (the standard
    * front-loaded split), percent_rank and cume_dist (exact integer
    * rationals through one IEEE division — identical operands ⇒
    * identical doubles), nth_value under an EXPLICIT running frame and
    * first/last over the EXPLICIT full frame (default frames are
    * where engines quietly disagree — pinned, not assumed, on both
    * sides). Every function rides ONE user-keyed window spec — one
    * exchange, no second sort.
    */
  val f07_window_suite: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
      .select(col("user_id"), col("event_id"),
        row_number().over(w).cast("long").as("rnk"),
        lead(col("event_id"), 1).over(w).as("next_id"),
        lag(col("event_id"), 1).over(w).as("prev_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value(col("event_id"), 3).over(wRun).as("third_id"),
        first(col("event_id")).over(wFull).as("first_id"),
        last(col("event_id")).over(wFull).as("last_id"))
  }

  /** f08 — HIGHER-ORDER COLLECTION BATTERY (§2.8's array/lambda leg):
    * the lambda-function surface over a real array column (the 64-dim
    * embedding vectors) — transform/filter/exists/forall/aggregate,
    * zip_with against the reversed vector, sort/slice/distinct/
    * position/min/max, flatten, sequence folds, containment and
    * intersection — every site where engine semantics plausibly
    * diverge (1- vs 0-based list indexing, inclusive vs exclusive
    * slicing, distinct-on-intersect, negative element_at) pinned on
    * both sides. Floats are quantized ONCE to milli-unit BIGINTs via
    * the portable floor(x·1000) (double widening is exact; floor has
    * no tie, unlike round) so every downstream fold is associative
    * integer math — order-independent, hash-exact. The sorted-slice
    * outputs (low5/top5) are SCALARIZED to comma-joined VARCHAR: the
    * driver's checker canonicalizes row order with a pandas
    * sort_values over every output column, and ARRAY-typed cells are
    * unhashable there (the r13 red row) — element order is
    * deterministic by construction, so the join loses nothing.
    * DuckDB's list_sum on BIGINT returns HUGEINT — every oracle fold
    * re-casts (the w13 lesson).
    *
    * Scale shape: embarrassingly row-local — zero exchanges, one
    * projection over the scan; CollapseProject re-inlines the `q`
    * transform per consumer, which is acceptable here (64 integer
    * floors per copy, element-wise — NOT the mm12 decode class) and
    * keeps the whole battery in one WholeStageCodegen span.
    */
  val f08_collection_suite: Q = (spark, dir) => {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1000.0)))
    embeddings(spark, dir)
      .select(col("vec_id"), q.as("q"))
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("sum_fold"),
        size(filter(col("q"), x => x > 0)).cast("long").as("n_pos"),
        exists(col("q"), x => x > 400).as("any_gt"),
        forall(col("q"), x => x > -500).as("all_gt"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x * x).as("sumsq"),
        aggregate(zip_with(col("q"), reverse(col("q")), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("palindot"),
        concat_ws(",", slice(sort_array(col("q")), 1, 5)
          .cast("array<string>")).as("low5"),
        concat_ws(",", slice(sort_array(col("q"), asc = false), 1, 5)
          .cast("array<string>")).as("top5"),
        size(array_distinct(col("q"))).cast("long").as("n_distinct"),
        array_position(col("q"), array_max(col("q"))).as("argmax1"),
        array_max(col("q")).as("qmax"),
        array_min(col("q")).as("qmin"),
        size(flatten(array(slice(col("q"), 1, 3), slice(col("q"), 62, 3))))
          .cast("long").as("n_ends"),
        aggregate(sequence(lit(1L), pmod(col("vec_id"), lit(7L)) + 1),
          lit(0L), (acc, x) => acc + x).as("tri"),
        array_contains(col("q"), lit(0L)).as("has_zero"),
        size(array_intersect(slice(sort_array(col("q")), 1, 10),
          slice(sort_array(col("q")), 6, 10))).cast("long").as("n_olap"),
        element_at(col("q"), 7).as("seventh"),
        element_at(col("q"), -1).as("lastq"))
  }

  /** f09 — SET-OPERATION BATTERY: all six SQL set operators over two
    * overlapping MULTISETS (custkeys of urgent orders vs custkeys of
    * completed orders — a customer with 3 urgent and 1 completed order
    * exercises real multiplicity arithmetic), labeled and unioned into
    * one relation. Pins cross-engine: Spark `union` = UNION ALL (the
    * classic trap — SQL UNION dedups, Dataset.union does not),
    * `intersectAll`/`exceptAll` = SQL INTERSECT ALL / EXCEPT ALL
    * multiplicity algebra (min(m_a, m_b) and m_a − m_b clamped at 0),
    * and the distinct variants. Spark plans INTERSECT/EXCEPT as
    * left-semi/anti joins after distinct and the ALL forms via
    * count-replicate generate — all shuffle-on-key shapes that scale;
    * the differential proves the rewrites match the standard.
    */
  val f09_setop_battery: Q = (spark, dir) => {
    val o = orders(spark, dir)
    val a = o.where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"))
    val b = o.where(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    a.union(b).distinct().withColumn("op", lit("union"))
      .unionAll(a.union(b).withColumn("op", lit("union_all")))
      .unionAll(a.intersect(b).withColumn("op", lit("intersect")))
      .unionAll(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      .unionAll(a.except(b).withColumn("op", lit("except")))
      .unionAll(a.exceptAll(b).withColumn("op", lit("except_all")))
      .select(col("op"), col("k"))
  }

  /** f10 — MAP-FUNCTION BATTERY (the nested-type surface f08 opened,
    * completed for MapType): per document a (token → count) frequency
    * map built with pure higher-order functions — distinct-key probe
    * plus count-filter feeding `map_from_entries`, no explode /
    * re-aggregate round trip — then every core map operation
    * exercised: key/value extraction, `transform_values`,
    * `map_filter`, `map_zip_with` (including the absent-key NULL lane:
    * keys present only in the left map see NULL from the right),
    * `map_concat` with a guaranteed-fresh sentinel key (the default
    * `mapKeyDedupPolicy=EXCEPTION` makes a colliding key a loud
    * error, so the sentinel also pins that policy), `map_entries`,
    * `element_at`-on-missing-key (NULL, not error) and
    * `map_contains_key`. EVERY output column is a scalar — sorted
    * `concat_ws` VARCHAR or BIGINT/BOOLEAN — per the r14
    * driver-sortability clause: MAP/ARRAY types never reach a
    * registered output schema.
    *
    * The DuckDB twin never builds a map at all — it derives the same
    * scalars straight from token LISTS (len / list_distinct /
    * list_filter), so the differential proves Spark's map algebra
    * against an independent formulation rather than mirroring it.
    *
    * Scale shape: embarrassingly row-local — one projection over the
    * documents scan, zero exchanges; per-row cost O(distinct·len),
    * bounded by the corpus vocabulary and document length, both
    * SF-invariant here.
    */
  val f10_map_suite: Q = (spark, dir) => {
    documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.lmToks.as("toks"))
      .select(col("doc_id"), col("toks"),
        map_from_entries(transform(array_distinct(col("toks")),
          t => struct(t.as("k"),
            size(filter(col("toks"), x => x === t)).cast("long").as("v"))))
          .as("m"))
      .select(col("doc_id"),
        size(col("m")).cast("long").as("n_keys"),
        aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
          .as("total"),
        concat_ws(",", sort_array(map_keys(col("m")))).as("keys_csv"),
        concat_ws(",", sort_array(map_keys(
          map_filter(col("m"), (_, v) => v >= 2)))).as("rep_keys_csv"),
        aggregate(map_values(transform_values(col("m"), (_, v) => v * v)),
          lit(0L), (a, x) => a + x).as("sumsq"),
        element_at(col("m"), lit("the")).as("n_the"),
        aggregate(map_values(map_zip_with(col("m"),
            map_filter(col("m"), (_, v) => v >= 2),
            (_, a, b) => coalesce(b, lit(0L)) - a)),
          lit(0L), (a, x) => a + x).as("zip_delta"),
        size(map_concat(col("m"),
          map(lit("#sentinel#"), lit(-1L)))).cast("long")
          .as("n_after_concat"),
        element_at(map_concat(col("m"), map(lit("#sentinel#"), lit(-1L))),
          lit("#sentinel#")).as("sentinel_val"),
        map_contains_key(col("m"), lit("data")).as("has_data"),
        concat_ws(",", transform(sort_array(map_entries(col("m"))),
          e => concat(e.getField("key"), lit(":"),
            e.getField("value").cast("string")))).as("entries_csv"))
  }

  /** f04 — STRING SCALAR BATTERY II (the §2.8 surface f01 left
    * uncovered): pad/translate/repeat/reverse, positional search,
    * regex extraction, split_part and cross-engine `levenshtein` —
    * each a place engines plausibly diverge (1- vs 0-based positions,
    * empty-match regex semantics, pad truncation) and therefore worth
    * pinning by differential rather than assumption. Pure projection;
    * no shuffle.
    */
  val f04_string_suite: Q = (spark, dir) => {
    part(spark, dir).select(
      col("p_partkey"),
      lpad(col("p_brand"), 12, "#").as("brand_lpad"),
      rpad(col("p_brand"), 12, "*").as("brand_rpad"),
      translate(col("p_type"), "aeiou", "AEIOU").as("type_tr"),
      reverse(col("p_name")).as("name_rev"),
      repeat(substring(col("p_brand"), 1, 2), 3).as("brand_rep"),
      instr(col("p_type"), "ED").cast("long").as("ed_pos"),
      regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_digits"),
      expr("split_part(p_type, ' ', 2)").as("type_mid"),
      levenshtein(col("p_brand"), lit("Brand#00")).cast("long").as("lev_dist"))
  }

  /** f03 — DATETIME SCALAR BATTERY: the calendar-function parity
    * surface (§2.8's date leg) pinned cross-engine, because calendar
    * functions are where engines silently disagree: DuckDB's
    * `dayofweek` is 0-based Sunday where Spark's is 1-based (the
    * oracle shifts), week-of-year means ISO week on both (pinned by
    * the differential, not assumed), `add_months`/`+ INTERVAL MONTH`
    * both clamp to month end (2024-01-31 + 1 mo = 2024-02-29 — the
    * clamp IS the test), and truncations compare as formatted strings
    * so no epoch/timezone re-derivation can hide. Every derived
    * column is an integer or a string — nothing floats. Pure
    * projection; no shuffle.
    */
  val f03_datetime_suite: Q = (spark, dir) => {
    val dt = to_date(col("o_orderdate"))
    orders(spark, dir).select(
      col("o_orderkey"),
      date_format(dt, "yyyy-MM-dd").as("dt"),
      year(dt).cast("long").as("yr"),
      quarter(dt).cast("long").as("qtr"),
      month(dt).cast("long").as("mo"),
      dayofmonth(dt).cast("long").as("dom"),
      dayofweek(dt).cast("long").as("dow1"), // 1 = Sunday
      dayofyear(dt).cast("long").as("doy"),
      weekofyear(dt).cast("long").as("iso_week"),
      date_format(last_day(dt), "yyyy-MM-dd").as("month_end"),
      date_format(add_months(dt, 1), "yyyy-MM-dd").as("plus_month"),
      date_format(date_trunc("quarter", dt), "yyyy-MM-dd").as("qtr_start"),
      datediff(dt, lit("1970-01-01").cast("date")).cast("long").as("epoch_day"))
  }

  // --------------------------------------------------------------------
  // A31–A34 — distribution & statistical analytics (round 11). The
  // reference's ADS layer stops at sums/counts (ads/TradeMarkAmountApp
  // .scala:40-78); these add the distribution-shape and trend relations
  // an analytics engine is expected to serve, all in the exact-integer
  // discipline (integer cents / counts shuffled, doubles only derived
  // in a pinned final expression both engines parenthesize identically).
  // --------------------------------------------------------------------

  /** a31 — equi-width histogram of event value by type: integer-cents
    * values land in pinned $50 buckets, plus each bucket's per-mille
    * share of its type (integer floor division — no float ratios on
    * the hash path). ONE groupBy shuffle on (type, bucket) — the bucket
    * id is derived map-side, so partial aggregation collapses rows
    * before the exchange; the share window repartitions only the
    * |types|·|buckets| bucket relation, never the raw events. At 100 TB
    * the bucket relation stays O(types·buckets) — tiny.
    */
  val a31_hist_equiwidth: Q = (spark, dir) =>
    histShares(events(spark, dir)
      .select(col("event_type"), cents(col("value")).cast("long").as("c"))
      .select(col("event_type"), expr("(c div 5000) * 5000").as("bucket_lo_cents"))
      .groupBy(col("event_type"), col("bucket_lo_cents"))
      .agg(count(lit(1)).as("n")))

  /** [[a31_hist_equiwidth]]'s share derivation over any (event_type,
    * bucket_lo_cents, n) count relation — shared with st68, where the
    * counts are maintained at ingest (count-at-ingest/shape-on-read,
    * the st66 discipline) and this window runs over the served
    * bucket relation.
    */
  private[graft] def histShares(b: DataFrame): DataFrame =
    b.withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("bucket_lo_cents"), col("n"),
        expr("(n * 1000) div total").as("share_pm"))

  /** a32 — EXACT equi-depth deciles of the order-price distribution via
    * the value-compressed CDF: prices quantize to integer cents, the
    * groupBy collapses duplicates to one (value, count) row, and the
    * decile of a value is pure integer arithmetic over its EXCLUSIVE
    * prefix count — `(10·cum_lo) div n` (a value ties wholly into one
    * decile; with heavy ties decile populations are deliberately
    * unequal — that is the exact semantics, not a bug). The ordered
    * prefix-sum window runs single-partition BY DESIGN but over the
    * COMPRESSED relation: |distinct cents| is bounded by the price
    * domain, not the row count, so a 100× scale-up grows the window's
    * input not at all once the domain saturates. For genuinely
    * unbounded domains the scale path is a14's mergeable sketch
    * cutpoints; this operator is the exact companion (a13 precedent).
    */
  val a32_hist_equidepth: Q = (spark, dir) => {
    val g = orders(spark, dir)
      .select(cents(col("o_totalprice")).cast("long").as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("cnt"))
    val tot = g.agg(sum(col("cnt")).as("n"))
    val wCum = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.select(col("c"), col("cnt"),
        coalesce(sum(col("cnt")).over(wCum), lit(0L)).as("cum_lo"))
      .join(broadcast(tot), lit(true), "inner")
      .select(col("c"), col("cnt"), expr("(cum_lo * 10) div n").as("decile"))
      .groupBy(col("decile"))
      .agg(sum(col("cnt")).as("n_rows"),
        min(col("c")).as("lo_cents"), max(col("c")).as("hi_cents"))
  }

  /** a33 — Pearson correlation between per-user-day click and purchase
    * activity, computed from EXACT integer component sums (n, Σx, Σy,
    * Σxy, Σx², Σy² are all BIGINT — order-independent, so the shuffle
    * can't perturb the statistic) with the correlation itself derived
    * once, in one pinned IEEE expression both engines parenthesize
    * identically: num / (sqrt(den_x) · sqrt(den_y)). NOT the engines'
    * `corr()` builtin — that streams doubles through Welford-style
    * updates whose result is partial-order dependent, exactly what a
    * differential hash can't tolerate. Two shuffles total: the
    * (user, day) rollup and a 1-row global agg. Component-sum headroom:
    * per-cell counts are event-rate bounded; at 2⁶³-threatening scale
    * the sums move to decimal — documented, not silent (a21 advice).
    */
  val a33_metric_corr: Q = (spark, dir) => {
    val d = events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("dt"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    d.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den_x"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("den_y"))
      .select(col("*"),
        when(col("den_x") > 0 && col("den_y") > 0,
          col("num").cast("double") /
            (sqrt(col("den_x").cast("double")) * sqrt(col("den_y").cast("double"))))
          .as("pearson_r"))
  }

  /** a34 — OLS trend of daily revenue vs time: slope/intercept from the
    * normal equations over exact integer sums. x = days since the
    * PINNED corpus mid-date (centering keeps n·Σxy inside 2⁶³ with
    * ~180× headroom at sf1 — the a21 lesson: bound the arithmetic,
    * document the decimal switch-over for beyond); y = dollar-rounded
    * daily revenue (integer, exact to sum in any order). The slope is
    * emitted BOTH as an exact integer rational (num/den) and as the
    * derived double; intercept (at the center date) likewise from one
    * pinned expression. ONE groupBy on the day + a 1-row agg.
    */
  val a34_ols_trend: Q = (spark, dir) => {
    val daily = orders(spark, dir)
      .select(
        (datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long") - 1200L).as("x"),
        round(col("o_totalprice")).cast("long").as("yd"))
      .groupBy(col("x")).agg(sum(col("yd")).as("y"))
    daily
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .select(col("*"),
        (col("slope_num").cast("double") / col("slope_den").cast("double"))
          .as("slope_dollars_per_day"))
      .select(col("*"),
        ((col("sy").cast("double") -
          col("slope_dollars_per_day") * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept_dollars"))
  }

  // --------------------------------------------------------------------
  // A35–A38 — behavioral analytics (round 11): Markov transitions, RFM
  // segmentation, market-basket lift, chi-square independence. Same
  // exact-integer discipline; doubles appear only in a38's per-cell
  // terms, derived from exact integers in one pinned expression.
  // --------------------------------------------------------------------

  /** a35 — event-type transition matrix (first-order Markov counts):
    * each user's event sequence ordered by (ts, event_id) — event_id
    * breaks timestamp ties deterministically — yields (from, to) pairs
    * via `lead` in ONE user-partitioned window, then one groupBy on the
    * pair; row-normalized probabilities as integer per-mille. The
    * window and nothing else touches the raw events; the pair relation
    * is |types|² rows. Per-user sequences are rate-bounded, so the
    * window's per-partition state holds at 100 TB (the a16/j14 sweep
    * discipline).
    */
  val a35_transition_matrix: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    transitionMatrix(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type")))
  }

  /** [[a35_transition_matrix]]'s rollup over any (from_type, to_type)
    * one-row-per-transition relation — shared with st69, where the
    * pairs are emitted by the flush-time per-user sweep and this
    * rollup runs on read.
    */
  private[graft] def transitionMatrix(pairs: DataFrame): DataFrame =
    pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000) div row_total").as("prob_pm"))

  /** a36 — RFM segmentation: per-user Recency (days to the pinned
    * corpus horizon — wall-clock injected, the P5 discipline),
    * Frequency (event count), Monetary (integer purchase cents), each
    * scored 1–5 by pinned-width integer buckets (data-derived
    * cutpoints are a32's compressed-CDF pattern; pinning keeps the
    * score a pure map-side function). ONE groupBy on user_id carries
    * all three aggregates; scores and the segment label derive without
    * another exchange.
    */
  val a36_rfm_segments: Q = (spark, dir) => {
    val score = (c: Column) => least(c, lit(5L))
    events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        datediff(lit("2024-02-01").cast("date"), max(to_date(col("ts"))))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(when(col("event_type") === "purchase",
          cents(col("value")).cast("long")).otherwise(0L)).as("monetary_cents"))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_cents"),
        // Clamp recency to >= 0 BEFORE the integer divide: a negative
        // operand (any event past the pinned horizon) splits Spark's
        // truncate-toward-zero `div` from DuckDB's floor `//` — the w11
        // negative-operand hazard. greatest(0, ·) removes the divergent
        // domain entirely, and caps r_score at 5 as a side effect.
        greatest(lit(1L), lit(5L) - expr("greatest(0L, recency_days) div 7"))
          .as("r_score"),
        score(lit(1L) + expr("frequency div 30")).as("f_score"),
        score(lit(1L) + expr("monetary_cents div 200000")).as("m_score"))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** a37 — market-basket pair lift over co-ordered parts: candidate
    * pairs come from a SELF EQUI-JOIN on the order key — per-order
    * fan-out is line-count bounded (≤ order size², never corpus²) —
    * with `p1 < p2` halving the pair space; support and lift in exact
    * integer micro-units. The ≥2-order floor bounds the output to
    * genuinely recurring pairs. Overflow headroom (the a21 lesson):
    * lift's numerator n_both·N·10⁶ ≤ N²·10⁶ ≈ 2.3×10¹⁸ at sf1 — inside
    * 2⁶³ with 4× headroom; beyond that the expression moves to decimal
    * (documented, not silent). Item counts are a dim-sized broadcast.
    */
  val a37_basket_lift: Q = (spark, dir) => {
    val li = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nOrders = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val itemCnt = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_item"))
    val a = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("p2"))
    a.join(b, Seq("l_orderkey")).where(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= 2)
      .join(broadcast(itemCnt.select(col("l_partkey").as("p1"),
        col("n_item").as("n1"))), Seq("p1"))
      .join(broadcast(itemCnt.select(col("l_partkey").as("p2"),
        col("n_item").as("n2"))), Seq("p2"))
      .join(broadcast(nOrders), lit(true), "inner")
      .select(col("p1"), col("p2"), col("n_both"), col("n1"), col("n2"),
        col("n_orders"),
        expr("(n_both * 1000000) div n_orders").as("support_micro"),
        expr("(n_both * n_orders * 1000000) div (n1 * n2)").as("lift_micro"))
  }

  /** a38 — chi-square independence of event_type × day-of-week. The
    * day index is pure integer arithmetic off the epoch ((days+4) mod
    * 7, 0 = Sunday) — no locale/engine DOW convention in the hash
    * path. Observed counts are ONE groupBy; margins ride windows over
    * the |types|·7 cell relation. Each cell's term (obs−e)²∕e derives
    * from exact integers in one pinned IEEE expression, then QUANTIZED
    * to integer micro-units before the statistic accumulates — float
    * SUMS are banned from the hash path even in "same order" windows
    * (DuckDB's windowed SUM reduces via a segment tree, Spark's
    * sequentially: bit-identical terms, last-ulp-different totals —
    * measured). floor(term·10⁶) of a bit-identical double is
    * bit-identical, and the integer running sum is exact in any
    * association. The last (type, dow) row carries the full χ² in
    * micro-units. Cell count is fixed — the windows never see data
    * volume.
    */
  val a38_chi2_independence: Q = (spark, dir) => {
    val obs = events(spark, dir)
      .select(col("event_type"),
        ((datediff(to_date(col("ts")), lit("1970-01-01").cast("date")) + 4) % 7)
          .cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("obs"))
    val wRow = Window.partitionBy(col("event_type"))
    val wCol = Window.partitionBy(col("dow"))
    val wAll = Window.partitionBy()
    val wRun = Window.orderBy(col("event_type"), col("dow"))
      .rowsBetween(Window.unboundedPreceding, 0)
    obs
      .withColumn("row_n", sum(col("obs")).over(wRow))
      .withColumn("col_n", sum(col("obs")).over(wCol))
      .withColumn("n", sum(col("obs")).over(wAll))
      .withColumn("e",
        (col("row_n") * col("col_n")).cast("double") / col("n").cast("double"))
      .withColumn("term",
        (col("obs").cast("double") - col("e")) *
          (col("obs").cast("double") - col("e")) / col("e"))
      .withColumn("term_micro", floor(col("term") * lit(1000000d)))
      .withColumn("chi2_running_micro", sum(col("term_micro")).over(wRun))
      .select(col("event_type"), col("dow"), col("obs"), col("row_n"),
        col("col_n"), col("n"), col("term"), col("term_micro"),
        col("chi2_running_micro"))
  }

  /** w11 — time-series gap fill with LINEAR INTERPOLATION: the sparse
    * hourly series (rare high-value purchases — deliberately gappy) is
    * stretched over a dense hour spine (sequence/explode — spine size
    * is the series' hour RANGE, a calendar bound, not a data bound)
    * and every missing hour gets the straight line between
    * its known neighbors. Values ride in milli-units; the
    * interpolation quotient is floor(double/double) — NOT `div`: Spark
    * `div` truncates toward zero while DuckDB `//` floors, and a
    * declining segment makes the numerator negative, which is exactly
    * where the two disagree. The double quotient is exact here
    * (numerator ≤ 10⁷·spine-hours ≪ 2⁵³, denominator a small gap
    * count, and a non-integral ratio sits ≥ 1/gap from the boundary —
    * ulp-safe). Two ignoreNulls window sweeps (prev/next known point)
    * over the CALENDAR-BOUNDED spine (the single-partition windows see
    * ≤ |hours| rows regardless of data volume); spine ends are known
    * points by construction, so no edge nulls. The j12/j14 sweep
    * discipline: never an inequality join against the known points.
    */
  val w11_linear_interp: Q = (spark, dir) => {
    val known = events(spark, dir)
      .where(col("event_type") === "purchase" && col("value") > 200)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val spine = known
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
    val wB = Window.orderBy(col("hr")).rowsBetween(Window.unboundedPreceding, 0)
    val wA = Window.orderBy(col("hr")).rowsBetween(0, Window.unboundedFollowing)
    spine.join(known, Seq("hr"), "left")
      .withColumn("h", expr("unix_micros(hr) div 3600000000"))
      .withColumn("prev_n", last(col("n"), ignoreNulls = true).over(wB))
      .withColumn("prev_h",
        last(when(col("n").isNotNull, col("h")), ignoreNulls = true).over(wB))
      .withColumn("next_n", first(col("n"), ignoreNulls = true).over(wA))
      .withColumn("next_h",
        first(when(col("n").isNotNull, col("h")), ignoreNulls = true).over(wA))
      .select(
        date_format(col("hr"), "yyyy-MM-dd HH").as("hr"),
        when(col("n").isNotNull, col("n") * 1000)
          .otherwise(col("prev_n") * 1000 +
            floor(((col("next_n") - col("prev_n")) * 1000 *
              (col("h") - col("prev_h"))).cast("double") /
              (col("next_h") - col("prev_h")).cast("double")).cast("long"))
          .as("value_milli"),
        col("n").isNull.as("is_interp"))
  }

  /** p19 — UNPIVOT (wide→long melt) of the lineitem measure columns:
    * the reshape primitive dual to a12's pivot. Spark's native
    * `unpivot` keeps it a zero-shuffle Expand over the scan (4 rows
    * out per row in, schema-driven); values pass through untouched —
    * both engines read the identical parquet doubles, so the hash
    * path carries no arithmetic at all.
    */
  val p19_unpivot: Q = (spark, dir) => {
    lineitem(spark, dir).unpivot(
      Array(col("l_orderkey"), col("l_linenumber")),
      Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax")),
      "measure", "val")
  }

  /** a39 — KMV SET-OPERATION estimates: pairwise audience overlap
    * (union size, Jaccard, intersection) between event types from
    * their bottom-k sketches — the sketch-algebra layer on top of a17
    * (a17 proves one set's sketch; this proves the MERGEABLE algebra:
    * bottom-k of a union is computable from the two bottom-ks alone,
    * so type-level audience overlap at 100 TB reads two k-row
    * summaries, never the raw user sets). Per pair: merge the two
    * ≤k-hash lists, keep the k smallest, count survivors present in
    * BOTH sketches — n_common/k estimates Jaccard (integer per-mille),
    * union size via a17's (k−1)·2⁶⁰/h₍ₖ₎ in the identical pinned
    * expression, intersection = Jaccard·union in integer arithmetic.
    * Exact regime (n_kept < k) short-circuits to exact counts, the
    * a17 discipline. Everything hash-derived → fully hash-checked, no
    * no-oracle carve-out. The 5-type dim makes the pair fan-out a
    * bounded broadcast; sketches are k-row relations.
    */
  val a39_kmv_overlap: Q = (spark, dir) =>
    kmvOverlap(events(spark, dir)
      .select(col("event_type"),
        graft.functions.Portable.hash60(
          concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"))).cast("long"))
      .where(col("rn") <= KmvK)
      .select(col("event_type"), col("h")))

  /** [[a39_kmv_overlap]]'s pair algebra over any per-type bottom-k
    * (event_type, h) relation — shared with st70, where the sketches
    * are MinK buffers maintained at ingest and this entire algebra
    * runs on read over the served k-row relations.
    */
  private[graft] def kmvOverlap(btm: DataFrame): DataFrame = {
    val k = KmvK
    val ty = btm.select(col("event_type")).distinct()
    val tp = ty.select(col("event_type").as("ta"))
      .join(ty.select(col("event_type").as("tb")), col("ta") < col("tb"))
    val merged = btm
      .join(broadcast(tp),
        col("event_type") === col("ta") || col("event_type") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("h"))
      .agg(max(when(col("event_type") === col("ta"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("event_type") === col("tb"), 1L).otherwise(0L)).as("in_b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))).cast("long"))
      .where(col("rn") <= k)
    merged
      .groupBy(col("ta"), col("tb"))
      .agg(max(col("rn")).as("n_kept"), max(col("h")).as("kth"),
        sum(col("in_a") * col("in_b")).as("n_common"))
      .select(col("ta"), col("tb"), col("n_kept"), col("kth"), col("n_common"),
        when(col("n_kept") < k, col("n_kept")).otherwise(
          floor(lit((k - 1).toDouble) * pow(lit(2.0), lit(60.0)) /
            col("kth").cast("double"))).as("union_est"))
      .select(col("*"),
        expr("(n_common * 1000) div n_kept").as("jaccard_pm"),
        expr("(n_common * union_est) div n_kept").as("inter_est"))
  }

  /** j20 — INTERVAL SELF-JOIN via bucket explosion: order pairs of the
    * same customer ≤30 days apart. The naive form is an inequality
    * join (quadratic per customer at scale); the scalable form maps
    * each left order to the ≤2 30-day epoch buckets its window can
    * reach, equi-joins on (custkey, bucket) — candidate fan-out is
    * per-bucket density, never per-customer² — and verifies the exact
    * range after. A pair lands in exactly ONE bucket (its right
    * side's), so no distinct pass is needed. Same-day pairs order by
    * key to avoid double emission. The DuckDB twin deliberately runs
    * the quadratic correlated form — the differential proves the
    * bucketed rewrite IS the inequality join.
    */
  val j20_order_pairs: Q = (spark, dir) => {
    val o = orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date"))
          .cast("long").as("di"))
    val left = o
      .select(col("o_custkey"), col("o_orderkey").as("k1"), col("di").as("d1"))
      .withColumn("bkt", explode(array(expr("d1 div 30"), expr("d1 div 30 + 1"))))
    val right = o
      .select(col("o_custkey"), col("o_orderkey").as("k2"), col("di").as("d2"))
      .withColumn("bkt", expr("d2 div 30"))
    left.join(right, Seq("o_custkey", "bkt"))
      .where((col("d2") - col("d1")).between(0, 30) &&
        (col("d2") > col("d1") ||
          (col("d2") === col("d1") && col("k1") < col("k2"))))
      .select(col("o_custkey"), col("k1"), col("k2"),
        (col("d2") - col("d1")).as("gap_days"))
  }

  /** a40 — SESSION PATH ANALYSIS: the first three steps of every
    * session (a16's gap-and-island sid construction, tie-order safe)
    * concatenated into a path signature, rolled up to (path,
    * n_sessions, share). The per-step pick is a conditional-max pivot
    * over row_number ≤ 3 — no ordered string aggregation anywhere
    * (collect_list/string_agg order is engine- and partial-dependent;
    * a (ts, event_id) row_number is not). Plan shape: the sid window,
    * the rank window AND the (user, sid) rollup all ride ONE
    * hash(user_id) exchange (hash(user) satisfies every (user, …)
    * clustering downstream — the a16 discipline); the path rollup
    * shuffles |paths| ≤ |types|³ rows.
    */
  val a40_session_paths: Q = (spark, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapMicros = 30L * 60L * 1000000L
    val r = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) >= gapMicros, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(wr))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))))
      .where(col("rn") <= 3)
    val paths = r.groupBy(col("user_id"), col("sid"))
      .agg(max(when(col("rn") === 1, col("event_type"))).as("s1"),
        max(when(col("rn") === 2, col("event_type"))).as("s2"),
        max(when(col("rn") === 3, col("event_type"))).as("s3"))
      .select(concat(col("s1"), lit(">"), coalesce(col("s2"), lit("-")),
        lit(">"), coalesce(col("s3"), lit("-"))).as("path"))
    pathShares(paths)
  }

  /** [[a40_session_paths]]'s rollup over any one-row-per-session
    * `path` relation — shared with st74, where paths emit from the
    * flush-time per-user sweep and this rollup runs on read.
    */
  private[graft] def pathShares(paths: DataFrame): DataFrame =
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .withColumn("share_pm",
        expr("(n_sessions * 1000) div sum(n_sessions) OVER ()"))

  /** w12 — ROLLING Z-SCORE anomaly flags over the hourly count series,
    * entirely in EXACT integer arithmetic: with the trailing frame's
    * cnt/Σx/Σx², the 3σ rule z² > 9 rewrites as (cnt·x − S)² >
    * 9·(cnt·Q − S²) — no mean, no variance, no sqrt ever
    * materializes, so there is no float in the hash path at all (a24's
    * cross-multiplication idea applied to a MOVING window; a
    * constant-history window has var_scaled = 0 and any deviation
    * flags, the correct degenerate verdict). Frame = the last 24
    * PRESENT hours excluding self (absence is w10's audit, not this
    * monitor's). The window rides the bounded (type, hour) count
    * relation, never the raw events. Integer headroom: dev² ≤
    * (24·n_hour)², safe to n_hour ≈ 10⁸; the decimal switch-over
    * beyond is documented, not silent (the a21 lesson).
    */
  val w12_rolling_zscore: Q = (spark, dir) =>
    rollingZJudge(events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n")))

  /** [[w12_rolling_zscore]]'s judgment over any (event_type, hr, n)
    * count relation — shared with st72, the (type, hour) ingest
    * counter table's THIRD read-side consumer (st66 judges seasonal
    * residuals, st67 audits gaps, this flags rolling-z outliers —
    * one piece of ingest state, three monitors).
    */
  private[graft] def rollingZJudge(h: DataFrame): DataFrame = {
    val wf = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(-24, -1)
    h.withColumn("cnt", count(col("n")).over(wf))
      .withColumn("s", sum(col("n")).over(wf))
      .withColumn("q", sum(col("n") * col("n")).over(wf))
      .where(col("cnt") >= 8)
      .withColumn("dev2",
        (col("cnt") * col("n") - col("s")) * (col("cnt") * col("n") - col("s")))
      .withColumn("var_scaled", col("cnt") * col("q") - col("s") * col("s"))
      .where(col("dev2") > lit(9L) * col("var_scaled"))
      .select(col("event_type"), date_format(col("hr"), "yyyy-MM-dd HH").as("hr"),
        col("n"), col("cnt"), col("s"), col("q"), col("dev2"),
        col("var_scaled"))
  }

  /** Benford expected first-digit shares, floor-quantized to integer
    * micro-units ONCE here and inlined as literals into BOTH engines
    * (the n25 precomputed-discount discipline: no engine ever
    * evaluates a log on the hash path).
    */
  private val BenfordMicro: IndexedSeq[Long] =
    (1 to 9).map(d => math.floor(math.log10(1.0 + 1.0 / d) * 1000000).toLong)

  /** p20 — BENFORD FIRST-DIGIT AUDIT over the money column: the
    * classic fabricated-data screen for the quality battery (p14
    * routes corrupt rows, p15 checks contracts, this checks the
    * DISTRIBUTION: organic multiplicative amounts follow Benford;
    * template-generated or clamped ones don't). First digit taken
    * from the INTEGER CENTS' decimal string — pure string arithmetic,
    * no float log anywhere; observed shares in integer micro-units
    * against the precomputed [[BenfordMicro]] literals, deviation as
    * exact integers. One groupBy on a 9-value key; the digit relation
    * never sees data volume.
    */
  val p20_benford: Q = (spark, dir) => {
    val expected = BenfordMicro.zipWithIndex
      .map { case (m, i) => struct(lit(i + 1L).as("digit"), lit(m).as("exp_micro")) }
    val exp = spark.range(1).select(
      explode(array(expected: _*)).as("e"))
      .select(col("e.digit"), col("e.exp_micro"))
    val obs = orders(spark, dir)
      .select(substring(cents(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).as("n"))
    obs.join(broadcast(exp), Seq("digit"))
      .join(broadcast(tot), lit(true), "inner")
      .select(col("digit"), col("n_obs"), col("n"),
        expr("(n_obs * 1000000) div n").as("share_micro"), col("exp_micro"))
      .withColumn("dev_micro", abs(col("share_micro") - col("exp_micro")))
  }

  /** w13 — ROLLING CORRELATION between the click and purchase series:
    * a33's exact-component-sum discipline moved onto w12's trailing
    * frame — cnt/Σx/Σy/Σxy/Σx²/Σy² accumulate as exact BIGINTs per
    * 24-present-hour window, the numerator and both radicands are
    * integer, and only the final r derives as one pinned IEEE
    * expression. The frame windows ride the bounded hourly relation
    * (calendar-bounded, never data-bounded); both series come out of
    * ONE conditional rollup — no self-join of two filtered scans.
    */
  val w13_rolling_corr: Q = (spark, dir) => {
    val h = events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val wf = Window.orderBy(col("hr")).rowsBetween(-24, -1)
    h.withColumn("cnt", count(lit(1)).over(wf))
      .withColumn("sx", sum(col("x")).over(wf))
      .withColumn("sy", sum(col("y")).over(wf))
      .withColumn("sxy", sum(col("x") * col("y")).over(wf))
      .withColumn("sxx", sum(col("x") * col("x")).over(wf))
      .withColumn("syy", sum(col("y") * col("y")).over(wf))
      .where(col("cnt") >= 8)
      .select(date_format(col("hr"), "yyyy-MM-dd HH").as("hr"), col("x"),
        col("y"), col("cnt"),
        (col("cnt") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("cnt") * col("sxx") - col("sx") * col("sx")).as("den_x"),
        (col("cnt") * col("syy") - col("sy") * col("sy")).as("den_y"))
      .withColumn("roll_r",
        when(col("den_x") > 0 && col("den_y") > 0,
          col("num").cast("double") /
            (sqrt(col("den_x").cast("double")) * sqrt(col("den_y").cast("double")))))
  }

  /** p21 — COLUMN PROFILE in one scan: the data-profiling relation
    * (per column: non-null count, distinct count, min/max) computed
    * as ONE aggregation over one pass — never a per-column scan loop
    * (the p15 one-scan discipline applied to profiling) — then
    * reshaped to long form by an explode over a literal struct array
    * (the p19 dual: here the pivot is schema-driven on the way OUT).
    * Numeric min/max ride as BIGINT, string min/max in their own
    * columns — no numeric→string casts anywhere (engine float/string
    * formatting is exactly the divergence the differential would
    * catch). Timestamps profile as epoch micros.
    */
  val p21_column_profile: Q = (spark, dir) => {
    val e = events(spark, dir).select(col("user_id"),
      cents(col("value")).cast("long").as("value_cents"),
      unix_micros(col("ts")).as("ts_us"), col("event_type"), col("props"))
    val nulls = lit(null).cast("long")
    val nullss = lit(null).cast("string")
    def num(c: String) = struct(lit(c).as("column"),
      count(col(c)).as("n_nonnull"), count_distinct(col(c)).as("n_distinct"),
      min(col(c)).as("min_num"), max(col(c)).as("max_num"),
      first(nullss).as("min_str"), first(nullss).as("max_str"))
    def str(c: String) = struct(lit(c).as("column"),
      count(col(c)).as("n_nonnull"), count_distinct(col(c)).as("n_distinct"),
      first(nulls).as("min_num"), first(nulls).as("max_num"),
      min(col(c)).as("min_str"), max(col(c)).as("max_str"))
    e.agg(count(lit(1)).as("n_rows"),
        array(num("user_id"), num("value_cents"), num("ts_us"),
          str("event_type"), str("props")).as("cols"))
      .select(col("n_rows"), explode(col("cols")).as("c"))
      .select(col("c.column"), col("n_rows"), col("c.n_nonnull"),
        col("c.n_distinct"), col("c.min_num"), col("c.max_num"),
        col("c.min_str"), col("c.max_str"))
  }

  // --------------------------------------------------------------------
  // registry
  // --------------------------------------------------------------------

  val queries: Map[String, Q] = Map(
    "w13_rolling_corr" -> w13_rolling_corr,
    "p21_column_profile" -> p21_column_profile,
    "p20_benford" -> p20_benford,
    "a40_session_paths" -> a40_session_paths,
    "w12_rolling_zscore" -> w12_rolling_zscore,
    "a39_kmv_overlap" -> a39_kmv_overlap,
    "j20_order_pairs" -> j20_order_pairs,
    "w11_linear_interp" -> w11_linear_interp,
    "p19_unpivot" -> p19_unpivot,
    "a35_transition_matrix" -> a35_transition_matrix,
    "a36_rfm_segments" -> a36_rfm_segments,
    "a37_basket_lift" -> a37_basket_lift,
    "a38_chi2_independence" -> a38_chi2_independence,
    "a31_hist_equiwidth" -> a31_hist_equiwidth,
    "a32_hist_equidepth" -> a32_hist_equidepth,
    "a33_metric_corr" -> a33_metric_corr,
    "a34_ols_trend" -> a34_ols_trend,
    "s06_dim_scan" -> s06_dim_scan,
    "s10_json_source" -> s10_json_source,
    "s12_csv_source" -> s12_csv_source,
    "s15_orc_source" -> s15_orc_source,
    "s16_binaryfile_source" -> s16_binaryfile_source,
    "s11_bucket_pruned_scan" -> s11_bucket_pruned_scan,
    "p02_cdc_route" -> p02_cdc_route,
    "p27_variant_route" -> p27_variant_route,
    "f13_variant_suite" -> f13_variant_suite,
    "f14_unpivot_melt" -> f14_unpivot_melt,
    "f15_lateral_join" -> f15_lateral_join,
    "f16_variant_storage" -> f16_variant_storage,
    "f17_observed_metrics" -> f17_observed_metrics,
    "f18_file_metadata" -> f18_file_metadata,
    "f19_xml_suite" -> f19_xml_suite,
    "f20_csv_suite" -> f20_csv_suite,
    "f21_url_suite" -> f21_url_suite,
    "f22_pipe_syntax" -> f22_pipe_syntax,
    "f23_recursive_cte" -> f23_recursive_cte,
    "a56_dynamic_session" -> a56_dynamic_session,
    "p03_date_hour" -> p03_date_hour,
    "p04_epoch_derive" -> p04_epoch_derive,
    "p05_age_bucket" -> p05_age_bucket,
    "p06_decode" -> p06_decode,
    "p07_composite_key" -> p07_composite_key,
    "p08_key_split" -> p08_key_split,
    "p09_filter_flag" -> p09_filter_flag,
    "p10_bean_merge" -> p10_bean_merge,
    "p11_json_flatten" -> p11_json_flatten,
    "p01_envelope_parse" -> p01_envelope_parse,
    "j01_lookup_join" -> j01_lookup_join,
    "j02_broadcast_enrich" -> j02_broadcast_enrich,
    "j03_anti_join" -> j03_anti_join,
    "j04_order_wide_join" -> j04_order_wide_join,
    "j05_join_dedup" -> j05_join_dedup,
    "j06_outer_join" -> j06_outer_join,
    "j07_first_order_flag" -> j07_first_order_flag,
    "j08_asof_join" -> j08_asof_join,
    "j09_salted_join" -> j09_salted_join,
    "j10_range_join" -> j10_range_join,
    "a01_brand_revenue" -> a01_brand_revenue,
    "a02_type_revenue" -> a02_type_revenue,
    "a03_dau" -> a03_dau,
    "a04_running_sum" -> a04_running_sum,
    "a05_top_brands" -> a05_top_brands,
    "a08_top_brands_per_type" -> a08_top_brands_per_type,
    "a09_funnel" -> a09_funnel,
    "a10_retention" -> a10_retention,
    "a11_revenue_rollup" -> a11_revenue_rollup,
    "a12_event_pivot" -> a12_event_pivot,
    "a13_value_quantiles" -> a13_value_quantiles,
    "a14_quantile_sketch" -> a14_quantile_sketch,
    "a14x_quantile_exact" -> a14x_quantile_exact,
    "a15_heavy_hitters" -> a15_heavy_hitters,
    "a15x_heavy_hitters_exact" -> a15x_heavy_hitters_exact,
    "a16_sessionize" -> a16_sessionize,
    "a17_kmv_sample" -> a17_kmv_sample,
    "a18_event_cube" -> a18_event_cube,
    "j14_multitouch_attribution" -> j14_multitouch_attribution,
    "j11_scd2_history" -> j11_scd2_history,
    "j16_point_in_time" -> j16_point_in_time,
    "j17_cdc_apply" -> j17_cdc_apply,
    "j18_fallback_join" -> j18_fallback_join,
    "j12_attribution_asof" -> j12_attribution_asof,
    "j27_asof_tolerance" -> j27_asof_tolerance,
    "j13_bloom_prune_join" -> j13_bloom_prune_join,
    "j15_bucketed_join" -> j15_bucketed_join,
    "p12_quarantine" -> p12_quarantine,
    "p13_schema_evolution" -> p13_schema_evolution,
    "p14_corrupt_route" -> p14_corrupt_route,
    "p16_quarantine_replay" -> p16_quarantine_replay,
    "p17_snapshot_diff" -> p17_snapshot_diff,
    "p18_masking_policy" -> p18_masking_policy,
    "s14_time_travel" -> s14_time_travel,
    "p15_contract_checks" -> p15_contract_checks,
    "a19_decayed_engagement" -> a19_decayed_engagement,
    "a06_salted_agg" -> a06_salted_agg,
    "a07_dau_approx" -> a07_dau_approx,
    "a20_sketch_reagg" -> a20_sketch_reagg,
    "a20x_sketch_reagg_exact" -> a20x_sketch_reagg_exact,
    "a41_changepoint" -> a41_changepoint,
    "a51_mad_outliers" -> a51_mad_outliers,
    "p22_fd_audit" -> p22_fd_audit,
    "f03_datetime_suite" -> f03_datetime_suite,
    "f04_string_suite" -> f04_string_suite,
    "f05_conditional_suite" -> f05_conditional_suite,
    "f06_agg_suite" -> f06_agg_suite,
    "f11_ordered_agg_suite" -> f11_ordered_agg_suite,
    "f12_try_suite" -> f12_try_suite,
    "f07_window_suite" -> f07_window_suite,
    "f08_collection_suite" -> f08_collection_suite,
    "f09_setop_battery" -> f09_setop_battery,
    "f10_map_suite" -> f10_map_suite,
    "j28_star_revenue" -> j28_star_revenue,
    "j29_small_qty_revenue" -> j29_small_qty_revenue,
    "j30_order_count_distribution" -> j30_order_count_distribution,
    "j31_above_avg_silent" -> j31_above_avg_silent,
    "j32_lateral_topk" -> j32_lateral_topk,
    "j33_waiting_supplier" -> j33_waiting_supplier,
    "j34_order_priority_check" -> j34_order_priority_check,
    "j35_not_in_nulls" -> j35_not_in_nulls,
    "j36_cheapest_supplier" -> j36_cheapest_supplier,
    "j37_pricing_summary" -> j37_pricing_summary,
    "j38_shipping_priority" -> j38_shipping_priority,
    "j39_forecast_revenue" -> j39_forecast_revenue,
    "j40_volume_shipping" -> j40_volume_shipping,
    "j41_market_share" -> j41_market_share,
    "j42_returned_items" -> j42_returned_items,
    "j43_promo_effect" -> j43_promo_effect,
    "j44_top_supplier" -> j44_top_supplier,
    "j45_large_volume" -> j45_large_volume,
    "j46_disjunctive_revenue" -> j46_disjunctive_revenue,
    "j47_dominant_supplier" -> j47_dominant_supplier,
    "j48_product_profit" -> j48_product_profit,
    "j49_ship_priority_class" -> j49_ship_priority_class,
    "j50_native_scalar_subquery" -> j50_native_scalar_subquery,
    "j51_native_in_having" -> j51_native_in_having,
    "a55_survival_curve" -> a55_survival_curve,
    "a53_revenue_share_having" -> a53_revenue_share_having,
    "a54_grouping_sets" -> a54_grouping_sets,
    "a42_join_size_forecast" -> a42_join_size_forecast,
    "p23_fk_audit" -> p23_fk_audit,
    "p24_pk_audit" -> p24_pk_audit,
    "p25_distribution_drift" -> p25_distribution_drift,
    "p26_observe_metrics" -> p26_observe_metrics,
    "j21_scd_audit" -> j21_scd_audit,
    "a43_weekday_index" -> a43_weekday_index,
    "w15_hot_streaks" -> w15_hot_streaks,
    "w16_cohort_retention" -> w16_cohort_retention,
    "w17_global_rank" -> w17_global_rank,
    "a44_funnel_conversion" -> a44_funnel_conversion,
    "a45_pareto_abc" -> a45_pareto_abc,
    "a46_gini" -> a46_gini,
    "j22_max_concurrency" -> j22_max_concurrency,
    "j23_interval_coverage" -> j23_interval_coverage,
    "j24_max_quiet_gap" -> j24_max_quiet_gap,
    "a47_weighted_quartiles" -> a47_weighted_quartiles,
    "a48_revenue_autocorr" -> a48_revenue_autocorr,
    "a49_rollup_revenue" -> a49_rollup_revenue,
    "w19_locf_fill" -> w19_locf_fill,
    "w20_weekly_heatmap" -> w20_weekly_heatmap,
    "w21_ewma" -> w21_ewma,
    "w22_rolling_median" -> w22_rolling_median,
    "w23_theil_sen" -> w23_theil_sen,
    "w24_rank_battery" -> w24_rank_battery,
    "j26_lead_time" -> j26_lead_time,
    "a50_new_vs_returning" -> a50_new_vs_returning,
    "w14_period_over_period" -> w14_period_over_period,
    "a21_skew_report" -> a21_skew_report,
    "a23_count_min" -> a23_count_min,
    "w05_ohlc_candles" -> w05_ohlc_candles,
    "w06_rolling_stats" -> w06_rolling_stats,
    "w07_sequence_match" -> w07_sequence_match,
    "w08_cumulative_users" -> w08_cumulative_users,
    "w09_candle_rollup" -> w09_candle_rollup,
    "w10_calendar_gaps" -> w10_calendar_gaps,
    "a22_incremental_agg" -> a22_incremental_agg,
    "a24_outlier_mad" -> a24_outlier_mad,
    "a25_winsorized_mean" -> a25_winsorized_mean,
    "a26_rolling_distinct" -> a26_rolling_distinct,
    "a27_conversion_latency" -> a27_conversion_latency,
    "a28_ab_assignment" -> a28_ab_assignment,
    "a29_session_conversion" -> a29_session_conversion,
    "a30_seasonal_residuals" -> a30_seasonal_residuals,
    "w03_payment_allocation" -> w03_payment_allocation,
    "w04_window_battery" -> w04_window_battery,
    "f01_scalar_suite" -> f01_scalar_suite,
    "f02_zorder_key" -> f02_zorder_key,
  )

  /** DuckDB oracle SQL. Column aliases match the Spark side exactly
    * (driver sorts columns by name before hashing). Money sums mirror
    * the integer-cents expressions — see [[graft.Tables.cents]].
    */
  val oracles: Map[String, String] = Map(
    "w13_rolling_corr" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS hr,
                      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                      SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
                    FROM events GROUP BY 1),
          f AS (SELECT hr, x, y,
                       CAST(COUNT(*) OVER w AS BIGINT) AS cnt,
                       CAST(SUM(x) OVER w AS BIGINT) AS sx,
                       CAST(SUM(y) OVER w AS BIGINT) AS sy,
                       CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
                       CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
                       CAST(SUM(y * y) OVER w AS BIGINT) AS syy
                FROM h
                WINDOW w AS (ORDER BY hr
                             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
          g AS (SELECT strftime(hr, '%Y-%m-%d %H') AS hr,
                       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, cnt,
                       cnt * sxy - sx * sy AS num,
                       cnt * sxx - sx * sx AS den_x,
                       cnt * syy - sy * sy AS den_y
                FROM f WHERE cnt >= 8)
          SELECT g.*, CASE WHEN den_x > 0 AND den_y > 0
                           THEN CAST(num AS DOUBLE) /
                                (sqrt(CAST(den_x AS DOUBLE)) *
                                 sqrt(CAST(den_y AS DOUBLE)))
                      END AS roll_r
          FROM g""",
    "p21_column_profile" ->
      """WITH e AS (SELECT user_id,
                      CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
                      epoch_us(ts) AS ts_us, event_type, props
                    FROM events),
          t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM e)
          SELECT 'user_id' AS "column", t.n_rows,
                 CAST(COUNT(user_id) AS BIGINT) AS n_nonnull,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct,
                 CAST(MIN(user_id) AS BIGINT) AS min_num,
                 CAST(MAX(user_id) AS BIGINT) AS max_num,
                 CAST(NULL AS VARCHAR) AS min_str,
                 CAST(NULL AS VARCHAR) AS max_str
          FROM e, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'value_cents', t.n_rows,
                 CAST(COUNT(value_cents) AS BIGINT),
                 CAST(COUNT(DISTINCT value_cents) AS BIGINT),
                 CAST(MIN(value_cents) AS BIGINT),
                 CAST(MAX(value_cents) AS BIGINT),
                 CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
          FROM e, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'ts_us', t.n_rows,
                 CAST(COUNT(ts_us) AS BIGINT),
                 CAST(COUNT(DISTINCT ts_us) AS BIGINT),
                 CAST(MIN(ts_us) AS BIGINT), CAST(MAX(ts_us) AS BIGINT),
                 CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
          FROM e, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'event_type', t.n_rows,
                 CAST(COUNT(event_type) AS BIGINT),
                 CAST(COUNT(DISTINCT event_type) AS BIGINT),
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                 MIN(event_type), MAX(event_type)
          FROM e, t GROUP BY t.n_rows
          UNION ALL
          SELECT 'props', t.n_rows,
                 CAST(COUNT(props) AS BIGINT),
                 CAST(COUNT(DISTINCT props) AS BIGINT),
                 CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                 MIN(props), MAX(props)
          FROM e, t GROUP BY t.n_rows""",
    "p20_benford" -> {
      val expRows = BenfordMicro.zipWithIndex
        .map { case (m, i) => s"(${i + 1}, ${m})" }.mkString(", ")
      s"""WITH exp(digit, exp_micro) AS (VALUES $expRows),
          c AS (SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100)
                         AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                FROM orders),
          obs AS (SELECT digit, COUNT(*) AS n_obs FROM c GROUP BY 1),
          tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
          SELECT obs.digit, n_obs, n,
                 CAST((n_obs * 1000000) // n AS BIGINT) AS share_micro,
                 CAST(exp_micro AS BIGINT) AS exp_micro,
                 CAST(abs((n_obs * 1000000) // n - exp_micro) AS BIGINT)
                   AS dev_micro
          FROM obs JOIN exp ON exp.digit = obs.digit CROSS JOIN tot"""
    },
    "a40_session_paths" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                    FROM events),
          s AS (SELECT e.*, SUM(CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                        THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
                FROM e),
          r AS (SELECT s.*, row_number() OVER (PARTITION BY user_id, sid
                             ORDER BY ts, event_id) AS rn
                FROM s),
          g AS (SELECT user_id, sid,
                       MAX(CASE WHEN rn = 1 THEN event_type END) AS s1,
                       MAX(CASE WHEN rn = 2 THEN event_type END) AS s2,
                       MAX(CASE WHEN rn = 3 THEN event_type END) AS s3
                FROM r WHERE rn <= 3 GROUP BY 1, 2),
          p AS (SELECT s1 || '>' || COALESCE(s2, '-') || '>' ||
                       COALESCE(s3, '-') AS path
                FROM g),
          c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1)
          SELECT path, n_sessions,
                 CAST((n_sessions * 1000) // SUM(n_sessions) OVER ()
                      AS BIGINT) AS share_pm
          FROM c""",
    "w12_rolling_zscore" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                      COUNT(*) AS n
                    FROM events GROUP BY 1, 2),
          f AS (SELECT event_type, hr, n,
                       CAST(COUNT(n) OVER w AS BIGINT) AS cnt,
                       CAST(SUM(n) OVER w AS BIGINT) AS s,
                       CAST(SUM(n * n) OVER w AS BIGINT) AS q
                FROM h
                WINDOW w AS (PARTITION BY event_type ORDER BY hr
                             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
          g AS (SELECT f.*, (cnt * n - s) * (cnt * n - s) AS dev2,
                       cnt * q - s * s AS var_scaled
                FROM f WHERE cnt >= 8)
          SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hr, n, cnt, s, q,
                 dev2, var_scaled
          FROM g WHERE dev2 > 9 * var_scaled""",
    "a39_kmv_overlap" -> {
      val k = KmvK
      s"""WITH uh AS (SELECT DISTINCT event_type,
                        ${graft.functions.Portable.duckHash60(
                          "concat('kmv:', CAST(user_id AS VARCHAR))")} AS h
                      FROM events),
          btm AS (SELECT event_type, h FROM (
                    SELECT event_type, h,
                           row_number() OVER (PARTITION BY event_type
                             ORDER BY h) AS rn
                    FROM uh) WHERE rn <= $k),
          ty AS (SELECT DISTINCT event_type FROM btm),
          tp AS (SELECT a.event_type AS ta, b.event_type AS tb
                 FROM ty a JOIN ty b ON a.event_type < b.event_type),
          mm AS (SELECT tp.ta, tp.tb, s.h,
                        CAST(MAX(CASE WHEN s.event_type = tp.ta
                                 THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
                        CAST(MAX(CASE WHEN s.event_type = tp.tb
                                 THEN 1 ELSE 0 END) AS BIGINT) AS in_b
                 FROM tp JOIN btm s
                   ON s.event_type = tp.ta OR s.event_type = tp.tb
                 GROUP BY 1, 2, 3),
          r AS (SELECT mm.*, CAST(row_number() OVER (PARTITION BY ta, tb
                               ORDER BY h) AS BIGINT) AS rn
                FROM mm),
          kept AS (SELECT * FROM r WHERE rn <= $k),
          agg AS (SELECT ta, tb, CAST(MAX(rn) AS BIGINT) AS n_kept,
                         MAX(h) AS kth,
                         CAST(SUM(in_a * in_b) AS BIGINT) AS n_common
                  FROM kept GROUP BY 1, 2),
          est AS (SELECT agg.*,
                         CASE WHEN n_kept < $k THEN n_kept
                              ELSE CAST(floor(${k - 1}.0 * pow(2.0, 60.0) /
                                     CAST(kth AS DOUBLE)) AS BIGINT)
                         END AS union_est
                  FROM agg)
          SELECT ta, tb, n_kept, kth, n_common, union_est,
                 CAST((n_common * 1000) // n_kept AS BIGINT) AS jaccard_pm,
                 CAST((n_common * union_est) // n_kept AS BIGINT) AS inter_est
          FROM est"""
    },
    // j20: the deliberately quadratic correlated form — the
    // differential proves the bucketed rewrite IS the inequality join
    "j20_order_pairs" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
                      date_diff('day', DATE '1995-01-01',
                                CAST(o_orderdate AS DATE)) AS di
                    FROM orders)
          SELECT a.o_custkey, a.o_orderkey AS k1, b.o_orderkey AS k2,
                 b.di - a.di AS gap_days
          FROM o a JOIN o b ON a.o_custkey = b.o_custkey
           AND b.di - a.di BETWEEN 0 AND 30
           AND (b.di > a.di
                OR (b.di = a.di AND a.o_orderkey < b.o_orderkey))""",
    "w11_linear_interp" ->
      """WITH known AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS n
                        FROM events
                        WHERE event_type = 'purchase' AND value > 200
                        GROUP BY 1),
          bounds AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM known),
          spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                      AS hr FROM bounds),
          j AS (SELECT s.hr, k.n,
                       epoch_us(s.hr) // 3600000000 AS h
                FROM spine s LEFT JOIN known k USING (hr)),
          f AS (SELECT j.*,
                       last_value(n IGNORE NULLS) OVER wb AS prev_n,
                       last_value(CASE WHEN n IS NOT NULL THEN h END
                         IGNORE NULLS) OVER wb AS prev_h,
                       first_value(n IGNORE NULLS) OVER wa AS next_n,
                       first_value(CASE WHEN n IS NOT NULL THEN h END
                         IGNORE NULLS) OVER wa AS next_h
                FROM j
                WINDOW wb AS (ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW),
                       wa AS (ORDER BY hr ROWS BETWEEN CURRENT ROW
                              AND UNBOUNDED FOLLOWING))
          SELECT strftime(hr, '%Y-%m-%d %H') AS hr,
                 CASE WHEN n IS NOT NULL THEN n * 1000
                      ELSE prev_n * 1000 +
                           CAST(floor(CAST((next_n - prev_n) * 1000 *
                                           (h - prev_h) AS DOUBLE)
                                      / CAST(next_h - prev_h AS DOUBLE))
                                AS BIGINT)
                 END AS value_milli,
                 n IS NULL AS is_interp
          FROM f""",
    "p19_unpivot" ->
      """SELECT l_orderkey, l_linenumber,
                'l_quantity' AS measure, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber,
                'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
         FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""",
    "a35_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
                      lead(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS to_type
                    FROM events),
          p AS (SELECT event_type AS from_type, to_type, COUNT(*) AS n
                FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2)
          SELECT from_type, to_type, n,
                 CAST((n * 1000) // SUM(n) OVER (PARTITION BY from_type)
                      AS BIGINT) AS prob_pm
          FROM p""",
    "a36_rfm_segments" ->
      """WITH u AS (SELECT user_id,
                      date_diff('day', CAST(MAX(ts) AS DATE),
                                DATE '2024-02-01') AS recency_days,
                      COUNT(*) AS frequency,
                      CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(ROUND(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS monetary_cents
                    FROM events GROUP BY 1),
          s AS (SELECT u.*,
                       greatest(1, 5 - greatest(0, recency_days) // 7) AS r_score,
                       least(1 + frequency // 30, 5) AS f_score,
                       least(1 + monetary_cents // 200000, 5) AS m_score
                FROM u)
          SELECT user_id, recency_days, frequency, monetary_cents,
                 r_score, f_score, m_score,
                 CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
                   CAST(m_score AS VARCHAR) AS segment
          FROM s""",
    "a37_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
          n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM li),
          c AS (SELECT l_partkey, COUNT(*) AS n_item FROM li GROUP BY 1),
          p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                       COUNT(*) AS n_both
                FROM li a JOIN li b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2 HAVING COUNT(*) >= 2)
          SELECT p1, p2, n_both, c1.n_item AS n1, c2.n_item AS n2, n_orders,
                 CAST((n_both * 1000000) // n_orders AS BIGINT)
                   AS support_micro,
                 CAST((n_both * n_orders * 1000000) // (c1.n_item * c2.n_item)
                      AS BIGINT) AS lift_micro
          FROM p JOIN c c1 ON c1.l_partkey = p1
                 JOIN c c2 ON c2.l_partkey = p2
                 CROSS JOIN n""",
    "a38_chi2_independence" ->
      """WITH o AS (SELECT event_type,
                      (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       + 4) % 7 AS dow,
                      COUNT(*) AS obs
                    FROM events GROUP BY 1, 2),
          m AS (SELECT event_type, dow, obs,
                       CAST(SUM(obs) OVER (PARTITION BY event_type) AS BIGINT)
                         AS row_n,
                       CAST(SUM(obs) OVER (PARTITION BY dow) AS BIGINT)
                         AS col_n,
                       CAST(SUM(obs) OVER () AS BIGINT) AS n
                FROM o),
          t AS (SELECT m.*,
                       (CAST(obs AS DOUBLE) -
                        CAST(row_n * col_n AS DOUBLE) / CAST(n AS DOUBLE)) *
                       (CAST(obs AS DOUBLE) -
                        CAST(row_n * col_n AS DOUBLE) / CAST(n AS DOUBLE)) /
                       (CAST(row_n * col_n AS DOUBLE) / CAST(n AS DOUBLE))
                         AS term
                FROM m),
          t2 AS (SELECT t.*, CAST(floor(term * 1000000) AS BIGINT)
                             AS term_micro
                 FROM t)
          SELECT event_type, dow, obs, row_n, col_n, n, term, term_micro,
                 CAST(SUM(term_micro) OVER (ORDER BY event_type, dow
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS chi2_running_micro
          FROM t2""",
    "a31_hist_equiwidth" ->
      """WITH c AS (SELECT event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
          b AS (SELECT event_type, (c // 5000) * 5000 AS bucket_lo_cents,
                       COUNT(*) AS n
                FROM c GROUP BY 1, 2)
          SELECT event_type, bucket_lo_cents, n,
                 CAST((n * 1000) // SUM(n) OVER (PARTITION BY event_type)
                      AS BIGINT) AS share_pm
          FROM b""",
    "a32_hist_equidepth" ->
      """WITH g AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c,
                      COUNT(*) AS cnt
                    FROM orders GROUP BY 1),
          k AS (SELECT c, cnt,
                       CAST(COALESCE(SUM(cnt) OVER (ORDER BY c
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS BIGINT) AS cum_lo,
                       CAST((SELECT SUM(cnt) FROM g) AS BIGINT) AS n
                FROM g)
          SELECT CAST((cum_lo * 10) // n AS BIGINT) AS decile,
                 CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 MIN(c) AS lo_cents, MAX(c) AS hi_cents
          FROM k GROUP BY 1""",
    "a33_metric_corr" ->
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS dt,
                      SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                      SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
                    FROM events GROUP BY 1, 2),
          s AS (SELECT COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy
                FROM d)
          SELECT n, sx, sy, sxy, sxx, syy,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS den_x,
                 n * syy - sy * sy AS den_y,
                 CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                      THEN CAST(n * sxy - sx * sy AS DOUBLE) /
                           (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                            sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 END AS pearson_r
          FROM s""",
    "a34_ols_trend" ->
      """WITH daily AS (SELECT date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) - 1200 AS x,
                        CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT)) AS BIGINT) AS y
                        FROM orders GROUP BY 1),
          s AS (SELECT COUNT(*) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx
                FROM daily),
          r AS (SELECT n, sx, sy, sxy, sxx,
                       n * sxy - sx * sy AS slope_num,
                       n * sxx - sx * sx AS slope_den
                FROM s),
          r2 AS (SELECT r.*, CAST(slope_num AS DOUBLE) /
                             CAST(slope_den AS DOUBLE) AS slope_dollars_per_day
                 FROM r)
          SELECT r2.*,
                 (CAST(sy AS DOUBLE) - slope_dollars_per_day * CAST(sx AS DOUBLE))
                   / CAST(n AS DOUBLE) AS intercept_dollars
          FROM r2""",
    "s06_dim_scan" ->
      """SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         WHERE r_name IN ('ASIA','EUROPE')""",
    "s10_json_source" ->
      """SELECT doc_id, lang, source, n_chars
         FROM documents WHERE n_chars >= 400""",
    // s12: the text column rides the quoted CSV round trip; its length
    // re-derivation makes a mis-parse unable to hash-match
    "s12_csv_source" ->
      """SELECT doc_id, lang, source, n_chars,
                CAST(len(text) AS BIGINT) AS text_len
         FROM documents WHERE n_chars >= 400""",
    // s15: native-typed columnar round trip; same re-derivation gate
    "s15_orc_source" ->
      """SELECT doc_id, lang, source, n_chars,
                CAST(len(text) AS BIGINT) AS text_len
         FROM documents WHERE n_chars >= 400""",
    // s16: the construction mirror (mm15's hash dims + the 54-byte BMP
    // header length) restricted to the exported mod-10 ≡ 7 cohort; a
    // match proves export∘binaryFile-ingest∘parse∘gate = gate∘construct
    "s16_binaryfile_source" -> {
      val h = graft.functions.Portable.duckHash60("sha256(text)")
      s"""WITH d AS (SELECT doc_id,
                            54 + octet_length(encode(text)) AS byte_len,
                            ($h) % 640 AS w, ($h) % 480 AS hh
                     FROM documents WHERE doc_id % 10 = 7)
          SELECT doc_id, CAST(byte_len AS BIGINT) AS byte_len,
                 w AS width, hh AS height,
                 CASE WHEN w = 0 OR hh = 0 THEN 'degenerate'
                      WHEN least(w, hh) < 32 THEN 'too_small'
                      WHEN w * 1000 > hh * 3000 OR hh * 1000 > w * 3000
                        THEN 'extreme_aspect'
                      ELSE 'ok' END AS lane
          FROM d"""
    },
    "s11_bucket_pruned_scan" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
                SUM(ROUND(o_totalprice * 100)) / 100 AS user_spend
         FROM orders WHERE o_custkey = 1
         GROUP BY o_custkey""",
    "p13_schema_evolution" ->
      """SELECT event_id, user_id, event_type,
                CASE WHEN event_id % 2 = 1 THEN value END AS value
         FROM events""",
    "p15_contract_checks" ->
      """WITH rl AS (
            SELECT CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS ts_not_null,
                   CAST(SUM(CASE WHEN event_type NOT IN
                              ('click','error','purchase','signup','view')
                            THEN 1 ELSE 0 END) AS BIGINT) AS event_type_in_enum,
                   CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS value_non_negative,
                   COUNT(*) - COUNT(DISTINCT event_id) AS event_id_unique
            FROM events),
          ri AS (SELECT COUNT(*) AS user_id_in_customer FROM events
                 WHERE user_id NOT IN (SELECT c_custkey FROM customer)),
          w AS (SELECT * FROM rl, ri)
          SELECT 'ts_not_null' AS constraint_name, ts_not_null AS n_violations,
                 ts_not_null = 0 AS passed FROM w
          UNION ALL SELECT 'event_type_in_enum', event_type_in_enum,
                 event_type_in_enum = 0 FROM w
          UNION ALL SELECT 'value_non_negative', value_non_negative,
                 value_non_negative = 0 FROM w
          UNION ALL SELECT 'event_id_unique', event_id_unique,
                 event_id_unique = 0 FROM w
          UNION ALL SELECT 'user_id_in_customer', user_id_in_customer,
                 user_id_in_customer = 0 FROM w""",
    // w05: the same candle arithmetic with the picks computed the
    // structurally different way (row_number edges vs min_by/max_by)
    // w10: NOT-EXISTS spine formulation (structurally different from
    // the anti-join + island window)
    "w10_calendar_gaps" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
                    FROM events GROUP BY 1, 2),
          span AS (SELECT MIN(date_trunc('hour', ts)) AS lo,
                          MAX(date_trunc('hour', ts)) AS hi
                   FROM events),
          spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
                    FROM span),
          ty AS (SELECT DISTINCT event_type FROM events),
          miss AS (SELECT ty.event_type, s.hr FROM ty, spine s
                   WHERE NOT EXISTS (SELECT 1 FROM h
                                     WHERE h.event_type = ty.event_type
                                       AND h.hr = s.hr)),
          g AS (SELECT event_type, hr,
                       epoch(hr) // 3600
                         - row_number() OVER (PARTITION BY event_type
                                              ORDER BY hr) AS grp
                FROM miss)
          SELECT event_type,
                 strftime(MIN(hr), '%Y-%m-%d %H') AS gap_start,
                 strftime(MAX(hr), '%Y-%m-%d %H') AS gap_end,
                 COUNT(*) AS gap_hours
          FROM g GROUP BY event_type, grp""",
    // w09: day candles DIRECTLY from raw — the differential IS the
    // mergeability proof (rollup-of-candles must equal candles-of-raw)
    "w09_candle_rollup" ->
      """WITH x AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                      CAST(ROUND(value * 100) AS BIGINT) AS c,
                      CAST(epoch_us(ts) AS HUGEINT) * 100000000 + event_id AS ord
                    FROM events WHERE value IS NOT NULL)
          SELECT event_type, day,
                 arg_min(c, ord) AS open_cents,
                 MAX(c) AS high_cents,
                 MIN(c) AS low_cents,
                 arg_max(c, ord) AS close_cents,
                 COUNT(*) AS n_events
          FROM x GROUP BY 1, 2""",
    "w08_cumulative_users" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
                    FROM events GROUP BY 1),
          d AS (SELECT first_day, COUNT(*) AS n_new FROM f GROUP BY 1)
          SELECT strftime(first_day, '%Y-%m-%d') AS dt, n_new,
                 CAST(SUM(n_new) OVER (ORDER BY first_day
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum
          FROM d""",
    // w07: the quadratic correlated form (latest prior click + NOT
    // EXISTS error in the open interval) — checks semantics, not plan
    "w07_sequence_match" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id,
                      CASE event_type WHEN 'click' THEN 0
                                      WHEN 'error' THEN 1 ELSE 2 END AS tag
                    FROM events
                    WHERE event_type IN ('click', 'purchase', 'error')),
          p AS (SELECT user_id, tsu, event_id, tag FROM e
                WHERE event_type = 'purchase'),
          c AS (SELECT p.event_id AS purchase_id, p.user_id,
                       p.tsu AS purchase_tsu, p.tag AS ptag,
                       cl.event_id AS click_id, cl.tsu AS click_tsu,
                       row_number() OVER (PARTITION BY p.event_id
                         ORDER BY cl.tsu DESC, cl.event_id DESC) AS rn
                FROM p JOIN e cl
                  ON cl.user_id = p.user_id AND cl.event_type = 'click'
                 AND (cl.tsu, cl.tag, cl.event_id) < (p.tsu, p.tag, p.event_id)
                 AND p.tsu - cl.tsu <= 3600000000),
          m AS (SELECT * FROM c WHERE rn = 1)
          SELECT purchase_id, user_id, click_id, click_tsu, purchase_tsu,
                 purchase_tsu - click_tsu AS gap_us
          FROM m
          WHERE NOT EXISTS (
            SELECT 1 FROM e er
            WHERE er.user_id = m.user_id AND er.event_type = 'error'
              AND (er.tsu, er.tag, er.event_id) > (m.click_tsu, 0, m.click_id)
              AND (er.tsu, er.tag, er.event_id) < (m.purchase_tsu, 2, m.purchase_id))""",
    "w06_rolling_stats" ->
      """WITH x AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
                      CAST(ROUND(value * 100) AS BIGINT) AS c
                    FROM events)
          SELECT event_id, user_id, tsu, c,
                 CAST(SUM(c) OVER r7 AS BIGINT) AS roll7_sum,
                 COUNT(*) OVER r7 AS roll7_n,
                 MAX(c) OVER r7 AS roll7_max,
                 CAST(SUM(c) OVER r7 AS DOUBLE) / CAST(COUNT(*) OVER r7 AS DOUBLE)
                   AS roll7_avg,
                 CAST(SUM(c) OVER hr AS BIGINT) AS hr_sum,
                 COUNT(*) OVER hr AS hr_n
          FROM x
          WINDOW r7 AS (PARTITION BY user_id ORDER BY tsu, event_id
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 hr AS (PARTITION BY user_id ORDER BY tsu
                        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "w05_ohlc_candles" ->
      """WITH e AS (SELECT event_type,
                           strftime(ts, '%Y-%m-%d %H') AS hour,
                           CAST(round(value * 100) AS BIGINT) AS c,
                           epoch_us(ts) AS tsu, event_id
                    FROM events WHERE value IS NOT NULL),
          r AS (SELECT *,
                       row_number() OVER (PARTITION BY event_type, hour
                                          ORDER BY tsu, event_id) AS rn_a,
                       row_number() OVER (PARTITION BY event_type, hour
                                          ORDER BY tsu DESC, event_id DESC) AS rn_d
                FROM e)
          SELECT event_type, hour,
                 MAX(CASE WHEN rn_a = 1 THEN c END) AS open_cents,
                 MAX(c) AS high_cents,
                 MIN(c) AS low_cents,
                 MAX(CASE WHEN rn_d = 1 THEN c END) AS close_cents,
                 COUNT(*) AS n_events
          FROM r GROUP BY 1, 2""",
    // a23: the same d portable xor-mixed hashes, fixed grid, min-of-d
    // point read — CMS is merge-order free, so the whole sketch
    // hash-matches
    "a23_count_min" -> {
      val P = graft.functions.Portable
      val h = P.duckHash60("concat('cms:', CAST(user_id AS VARCHAR))")
      def rb(src: String) = (0 until CmsDepth).map(r =>
        s"SELECT user_id, $r AS r, ${P.duckXorMix(r, h)} % $CmsWidth AS bucket FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH cmsrows AS (${rb("events")}),
          cms AS (SELECT r, bucket, COUNT(*) AS cnt FROM cmsrows GROUP BY 1, 2),
          probes AS (SELECT c_custkey AS user_id FROM customer
                     WHERE c_custkey % 50 = 0),
          prows AS (${rb("probes")}),
          est AS (SELECT user_id, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS est_cnt
                  FROM prows LEFT JOIN cms USING (r, bucket) GROUP BY 1),
          exact AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY 1)
          SELECT user_id,
                 CAST(COALESCE(exact_cnt, 0) AS BIGINT) AS exact_cnt, est_cnt,
                 est_cnt - CAST(COALESCE(exact_cnt, 0) AS BIGINT) AS overcount
          FROM est LEFT JOIN exact USING (user_id)"""
    },
    // a30: quantile_disc medians (a24's equivalence), time-keyed
    // seasonal self-join mirrored
    "a30_seasonal_residuals" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                      COUNT(*) AS n
                    FROM events GROUP BY 1, 2),
          r AS (SELECT a.event_type, a.hr, a.n,
                       COALESCE(b.n, 0) AS expected,
                       a.n - COALESCE(b.n, 0) AS resid
                FROM h a LEFT JOIN h b
                  ON b.event_type = a.event_type
                 AND b.hr = a.hr - INTERVAL 24 HOURS),
          m AS (SELECT event_type, quantile_disc(resid, 0.5) AS med
                FROM r GROUP BY 1),
          d AS (SELECT r.*, m.med, abs(resid - med) AS dev
                FROM r JOIN m USING (event_type)),
          md AS (SELECT event_type, quantile_disc(dev, 0.5) AS mad
                 FROM d GROUP BY 1)
          SELECT d.event_type, strftime(d.hr, '%Y-%m-%d %H') AS hr,
                 n, expected, resid, med, mad
          FROM d JOIN md USING (event_type)
          WHERE 10000 * dev > 44478 * mad""",
    "a29_session_conversion" ->
      """WITH e AS (SELECT user_id, ts, event_type,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                    FROM events),
          s AS (SELECT user_id, ts, event_type,
                       SUM(CASE WHEN prev IS NULL
                                  OR epoch_us(ts) - epoch_us(prev) >= 1800000000
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
                FROM e),
          g AS (SELECT user_id, sid,
                       strftime(MIN(ts), '%Y-%m-%d') AS dt,
                       MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                         AS converted
                FROM s GROUP BY 1, 2)
          SELECT dt, COUNT(*) AS n_sessions,
                 CAST(SUM(converted) AS BIGINT) AS n_converted,
                 CAST(SUM(converted) * 1000 // COUNT(*) AS BIGINT) AS conv_pm
          FROM g GROUP BY 1""",
    "a28_ab_assignment" -> {
      val arm = graft.functions.Portable.duckHash60(
        "concat('exp:', CAST(user_id AS VARCHAR))")
      s"""WITH x AS (SELECT event_type, user_id,
                       CAST(ROUND(value * 100) AS BIGINT) AS c,
                       ($arm) % 2 AS arm
                     FROM events)
          SELECT event_type,
                 COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END) AS n_treat,
                 COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END) AS n_ctrl,
                 CAST(SUM(CASE WHEN arm = 1 THEN c END) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS DOUBLE)
                   AS treat_mean_c,
                 CAST(SUM(CASE WHEN arm = 0 THEN c END) AS DOUBLE)
                   / CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS DOUBLE)
                   AS ctrl_mean_c,
                 CAST((COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                       - COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END))
                    * (COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                       - COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END))
                    * 1000000
                    // (COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                       + COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END))
                    AS BIGINT) AS chi2_micro,
                 CAST((COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                       - COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END))
                    * (COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                       - COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END))
                    * 1000000
                    // (COUNT(DISTINCT CASE WHEN arm = 1 THEN user_id END)
                       + COUNT(DISTINCT CASE WHEN arm = 0 THEN user_id END))
                    AS BIGINT) > 3841459 AS srm_flag
          FROM x GROUP BY 1"""
    },
    // a27: j12's correlated as-of chained into rank-pick quantiles
    "a27_conversion_latency" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
                    WHERE event_type = 'click'),
          p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
                WHERE event_type = 'purchase'),
          att AS (SELECT p.event_id, p.user_id, p.tsu,
                    (SELECT c.event_id FROM c
                     WHERE c.user_id = p.user_id AND c.tsu <= p.tsu
                     ORDER BY c.tsu DESC, c.event_id DESC LIMIT 1) AS click_id
                  FROM p),
          g AS (SELECT strftime(make_timestamp(a.tsu), '%Y-%m-%d') AS dt,
                       a.tsu - c.tsu AS gap_us, a.event_id
                FROM att a LEFT JOIN c ON c.event_id = a.click_id),
          r AS (SELECT dt, gap_us,
                       row_number() OVER (PARTITION BY dt
                                          ORDER BY gap_us, event_id) AS rn,
                       COUNT(*) OVER (PARTITION BY dt) AS n
                FROM g WHERE gap_us IS NOT NULL),
          u AS (SELECT dt, COUNT(*) AS n_unattributed FROM g
                WHERE gap_us IS NULL GROUP BY 1),
          q AS (SELECT dt, MAX(n) AS n_attributed,
                       MAX(CASE WHEN rn = ceil(0.5 * n) THEN gap_us END) AS p50_us,
                       MAX(CASE WHEN rn = ceil(0.9 * n) THEN gap_us END) AS p90_us,
                       MAX(CASE WHEN rn = ceil(0.99 * n) THEN gap_us END) AS p99_us
                FROM r GROUP BY dt)
          SELECT q.dt, n_attributed,
                 COALESCE(n_unattributed, 0) AS n_unattributed,
                 p50_us, p90_us, p99_us
          FROM q LEFT JOIN u ON u.dt = q.dt""",
    // a26: rank-window formulation of the same bottom-k per window day
    "a26_rolling_distinct" -> {
      val h = graft.functions.Portable.duckHash60(
        "concat('kmv:', CAST(user_id AS VARCHAR))")
      s"""WITH pd AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
          ex AS (SELECT DISTINCT day + CAST(i AS INTEGER) AS day, user_id
                 FROM pd, (SELECT unnest(range(0, 7)) AS i) t),
          uh AS (SELECT day, user_id, $h AS h FROM ex),
          r AS (SELECT day, user_id, h,
                  CAST(row_number() OVER (PARTITION BY day
                                          ORDER BY h, user_id) AS BIGINT) AS rank,
                  COUNT(*) OVER (PARTITION BY day) AS n_exact
                FROM uh)
          SELECT strftime(day, '%Y-%m-%d') AS dt,
                 MAX(n_exact) AS n_exact,
                 CAST(COUNT(*) FILTER (rank <= $KmvK) AS BIGINT) AS n_kept,
                 MAX(CASE WHEN rank <= $KmvK THEN h END) AS kth,
                 CASE WHEN MAX(n_exact) < $KmvK THEN MAX(n_exact)
                      ELSE CAST(floor(${KmvK - 1}.0 * pow(2.0, 60.0) /
                             CAST(MAX(CASE WHEN rank <= $KmvK THEN h END) AS DOUBLE))
                           AS BIGINT) END AS est_distinct
          FROM r GROUP BY day"""
    },
    // a25: same rank-pick fences (window formulation), means as
    // exact-integer double divisions
    "a25_winsorized_mean" ->
      """WITH x AS (SELECT event_type, event_id,
                      CAST(ROUND(value * 100) AS BIGINT) AS xc
                    FROM events),
          r AS (SELECT *,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY xc, event_id) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM x),
          f AS (SELECT event_type,
                  MAX(CASE WHEN rn = ceil(0.05 * n) THEN xc END) AS p05,
                  MAX(CASE WHEN rn = ceil(0.95 * n) THEN xc END) AS p95
                FROM r GROUP BY 1)
          SELECT x.event_type,
                 COUNT(*) AS n_events,
                 MAX(p05) AS p05, MAX(p95) AS p95,
                 CAST(SUM(xc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_c,
                 CAST(SUM(GREATEST(p05, LEAST(p95, xc))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS wins_mean_c,
                 CAST(SUM(CASE WHEN xc BETWEEN p05 AND p95 THEN xc END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN xc BETWEEN p05 AND p95 THEN 1 END) AS DOUBLE)
                   AS trim_mean_c
          FROM x JOIN f USING (event_type)
          GROUP BY 1""",
    // a24: quantile_disc formulation (same lower-median semantics as
    // the Spark side's rank pick, different construction)
    "a24_outlier_mad" ->
      """WITH x AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100) AS BIGINT) AS xc
                    FROM events),
          m AS (SELECT event_type, quantile_disc(xc, 0.5) AS med
                FROM x GROUP BY 1),
          d AS (SELECT x.event_id, x.event_type, x.xc, m.med,
                       abs(xc - med) AS dev
                FROM x JOIN m USING (event_type)),
          md AS (SELECT event_type, quantile_disc(dev, 0.5) AS mad
                 FROM d GROUP BY 1)
          SELECT event_id, d.event_type, xc, med, mad, dev
          FROM d JOIN md USING (event_type)
          WHERE 10000 * dev > 44478 * mad""",
    "a21_skew_report" ->
      """WITH pk AS (SELECT event_type, user_id, COUNT(*) AS c
                     FROM events GROUP BY 1, 2)
         SELECT event_type,
                CAST(SUM(c) AS BIGINT) AS n_events,
                COUNT(*) AS n_keys,
                CAST(MAX(c) AS BIGINT) AS top_key_events,
                CAST((CAST(MAX(c) AS HUGEINT) * COUNT(*) * 1000)
                  // CAST(SUM(c) AS BIGINT) AS BIGINT) AS skew_x1000,
                CAST((CAST(MAX(c) AS HUGEINT) * COUNT(*) * 1000)
                  // CAST(SUM(c) AS BIGINT) AS BIGINT) > 2000 AS skewed
         FROM pk GROUP BY event_type""",
    "a22_incremental_agg" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
                SUM(ROUND(o_totalprice * 100)) / 100 AS total_spend
         FROM orders GROUP BY o_custkey""",
    "a19_decayed_engagement" ->
      """SELECT event_type,
                CAST(SUM(CAST(ROUND(value * 100) AS BIGINT) *
                         CAST(floor(exp(-(DATE '2024-02-15' - CAST(ts AS DATE)) / 30.0)
                                    * 1000000) AS BIGINT)) AS BIGINT)
                  AS decayed_micro_cents,
                COUNT(*) AS n_events
         FROM events GROUP BY event_type""",
    "p02_cdc_route" ->
      """SELECT event_id, event_type, 'ods_' || event_type AS route, user_id
         FROM events WHERE event_type IN ('purchase','signup','click')""",
    "p27_variant_route" ->
      """WITH p AS (SELECT event_id,
              '{"table": "' || event_type || '", "type": "' ||
              CASE CAST(event_id % 3 AS INTEGER)
                   WHEN 0 THEN 'insert' WHEN 1 THEN 'update'
                   ELSE 'bootstrap-insert' END ||
              '", "data": {"id": ' || CAST(user_id AS VARCHAR) || '}}' AS env
            FROM events)
         SELECT event_id,
                json_extract_string(env, '$.table') AS tbl,
                json_extract_string(env, '$.type') AS op,
                'ods_' || json_extract_string(env, '$.table') AS route,
                CAST(json_extract(env, '$.data.id') AS BIGINT) AS row_id
         FROM p
         WHERE json_extract_string(env, '$.table')
                 IN ('purchase','signup','click')
           AND json_extract_string(env, '$.type') IN ('insert','update')""",
    "f14_unpivot_melt" ->
      """SELECT l_orderkey, l_linenumber, measure, val
         FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                      l_extendedprice, l_discount, l_tax FROM lineitem)
         UNPIVOT (val FOR measure
                  IN (l_quantity, l_extendedprice, l_discount, l_tax))""",
    "f15_lateral_join" ->
      """SELECT o.o_orderkey, o.o_custkey,
                COALESCE(t.n_lines, 0) AS n_lines, t.max_price_c, t.sum_qty
         FROM orders o LEFT JOIN LATERAL (
           SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
                  CAST(MAX(ROUND(l.l_extendedprice * 100)) AS BIGINT)
                    AS max_price_c,
                  CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT)
                    AS sum_qty
           FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) t ON true""",
    // a56: gaps-and-islands with a RUNNING MAX of per-event session
    // ends (a lag compare is wrong under per-event gaps); half-open
    // [start, end) — an event at exactly prev_max opens a new session
    "a56_dynamic_session" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu,
                  CASE WHEN event_type = 'purchase'
                       THEN 600000000 ELSE 1800000000 END AS gap_us
           FROM events),
         w AS (SELECT user_id, tsu, tsu + gap_us AS end_us,
                 MAX(tsu + gap_us) OVER (PARTITION BY user_id ORDER BY tsu
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
               FROM e),
         s AS (SELECT user_id, tsu, end_us,
                 SUM(CASE WHEN prev_max IS NULL OR tsu >= prev_max
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY tsu
                         ROWS UNBOUNDED PRECEDING) AS sid
               FROM w)
         SELECT strftime(make_timestamp(MIN(tsu)), '%Y-%m-%d %H:%M:%S')
                  AS session_start,
                strftime(make_timestamp(MAX(end_us)), '%Y-%m-%d %H:%M:%S')
                  AS session_end,
                user_id, CAST(COUNT(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid""",
    // f22: the pipe chain must equal the classic nested form
    "f22_pipe_syntax" ->
      """SELECT p_brand,
                CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT) AS cents,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size <= 25
         GROUP BY p_brand HAVING COUNT(*) > 50
         ORDER BY cents DESC, p_brand LIMIT 10""",
    "f23_recursive_cte" ->
      """WITH RECURSIVE leaf AS (
           SELECT 32 + p_partkey % 32 AS node,
                  CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT) AS cents
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1),
         up(node, cents) AS (
           SELECT node, cents FROM leaf
           UNION ALL
           SELECT node // 2, cents FROM up WHERE node > 1)
         SELECT node, CAST(SUM(cents) AS BIGINT) AS subtree_cents,
                CAST(COUNT(*) AS BIGINT) AS n_leaves
         FROM up GROUP BY node""",
    // f19/f20: no XML/CSV codec in the oracle — the expected verdicts
    // derive from the planted lane construction (the f13 discipline);
    // the corrupted-lane shapes encode MEASURED Spark parser semantics
    "f19_xml_suite" ->
      """SELECT event_id,
                CAST(event_id % 4 AS INTEGER) IN (2, 3) AS corrupt,
                CASE WHEN CAST(event_id % 4 AS INTEGER) = 0
                     THEN user_id END AS k_long,
                CASE WHEN CAST(event_id % 4 AS INTEGER) IN (0, 1)
                     THEN event_type END AS tag
         FROM events""",
    "f20_csv_suite" ->
      """SELECT event_id, event_id AS eid, event_type AS et,
                CASE WHEN CAST(event_id % 3 AS INTEGER) = 0
                     THEN user_id END AS uid,
                CAST(event_id % 3 AS INTEGER) <> 0 AS corrupt,
                CAST(event_id AS VARCHAR) || ',' || event_type
                  AS round_trip
         FROM events""",
    "f21_url_suite" ->
      """SELECT event_id, 'ex.com' AS host,
                '/cat/' || event_type || '/item' AS path,
                'uid=' || CAST(user_id AS VARCHAR) || '&src=ads&eid=' ||
                  CAST(event_id AS VARCHAR) AS qstring,
                CAST(user_id AS VARCHAR) AS q_uid,
                'v%2F' || event_type || '%3A1' AS enc,
                CASE WHEN CAST(event_id % 5 AS INTEGER) = 0 THEN NULL
                     ELSE 'a/b' END AS decoded
         FROM events""",
    "f17_observed_metrics" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT)
                  AS sum_price_c,
                strftime(MIN(l_shipdate), '%Y-%m-%d') AS min_ship,
                strftime(MAX(l_shipdate), '%Y-%m-%d') AS max_ship
         FROM lineitem""",
    // f18: the driver fixture is one file per table, so the per-file
    // audit reduces to the table aggregate under that constant name
    "f18_file_metadata" ->
      """SELECT 'documents.parquet' AS file_name,
                CAST(COUNT(*) AS BIGINT) AS n_rows,
                MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
         FROM documents""",
    // f16: the oracle re-derives the stored variant's content from the
    // SOURCE json — the round trip must decode to what the text said
    "f16_variant_storage" ->
      """SELECT event_id,
                TRY_CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
                event_type AS et, user_id AS uid
         FROM events""",
    // f13: DuckDB has no variant — the oracle re-derives the same
    // scalar verdicts from json_valid/json_type/typed extraction
    "f13_variant_suite" ->
      """WITH p AS (SELECT event_id,
              CASE CAST(event_id % 4 AS INTEGER)
                   WHEN 0 THEN '{"k": ' || CAST(user_id AS VARCHAR) ||
                     ', "tag": "' || event_type || '", "nested": {"v": ' ||
                     CAST(event_id % 100 AS VARCHAR) || '}}'
                   WHEN 1 THEN '{"k": null, "tag": "' || event_type || '"}'
                   WHEN 2 THEN '{"k": "s' || CAST(user_id AS VARCHAR) ||
                     '", "tag": "' || event_type || '"}'
                   ELSE '{"k": ' || CAST(user_id AS VARCHAR) END AS payload
            FROM events),
          -- TRY_CAST to JSON, not json_valid + CASE: DuckDB's
          -- vectorized json_type still touches malformed rows inside
          -- an untaken CASE branch and throws; a NULL JSON propagates
          v AS (SELECT event_id, TRY_CAST(payload AS JSON) AS j FROM p)
         SELECT event_id, j IS NOT NULL AS parsed_ok,
                CASE WHEN json_type(j, '$.k') IN ('BIGINT','UBIGINT')
                     THEN CAST(json_extract(j, '$.k') AS BIGINT)
                END AS k_long,
                CASE WHEN j IS NOT NULL
                     THEN json_type(j, '$.k') = 'NULL'
                END AS k_is_json_null,
                json_extract_string(j, '$.tag') AS tag,
                TRY_CAST(json_extract(j, '$.nested.v') AS BIGINT) AS nested_v
         FROM v""",
    "p03_date_hour" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS dt, strftime(ts, '%H') AS hr
         FROM events""",
    "p04_epoch_derive" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms,
                strftime(make_timestamp(epoch_ms(ts)*1000), '%Y-%m-%d') AS dt,
                strftime(make_timestamp(epoch_ms(ts)*1000), '%H') AS hr
         FROM events""",
    "p05_age_bucket" ->
      """SELECT o_orderkey,
                date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS age_days,
                CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') < 365 THEN '20岁及以下'
                     WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') <= 500 THEN '20岁到30岁'
                     ELSE '30岁及以上' END AS age_group
         FROM orders""",
    "p06_decode" ->
      """SELECT c_custkey,
                CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN '男' ELSE '女' END AS segment_decoded
         FROM customer""",
    // concat_ws on BOTH sides (not ||): Spark concat_ws skips NULLs,
    // DuckDB || propagates them — concat_ws shares one NULL semantic.
    "p07_composite_key" ->
      """SELECT p_partkey, concat_ws('_', p_brand, p_type) AS brand_type_key FROM part""",
    "p08_key_split" ->
      """SELECT p_partkey,
                string_split(concat_ws('_', p_brand, p_size), '_')[1] AS brand,
                string_split(concat_ws('_', p_brand, p_size), '_')[2] AS size_str
         FROM part""",
    "p09_filter_flag" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'""",
    "p10_bean_merge" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS order_detail_id,
                l_partkey AS sku_id, l_quantity AS sku_num,
                l_extendedprice AS order_price, o_custkey AS user_id,
                o_orderstatus AS order_status, o_totalprice AS final_total_amount,
                strftime(o_orderdate, '%Y-%m-%d') AS dt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "p11_json_flatten" ->
      """SELECT event_id, json_extract_string(props, '$.k') AS k FROM events""",
    "p14_corrupt_route" ->
      """WITH m AS (SELECT event_id,
                           CASE WHEN event_id % 11 = 0 THEN '}' || props
                                ELSE props END AS raw
                    FROM events)
         SELECT event_id,
                CASE WHEN json_valid(raw)
                     THEN json_extract_string(raw, '$.k') END AS k,
                NOT json_valid(raw) AS quarantined,
                CASE WHEN NOT json_valid(raw) THEN raw END AS raw_payload
         FROM m""",
    // p16: replay the quarantine lane after the leading-brace patch;
    // the audit compares against the pristine parse of the same event
    "p16_quarantine_replay" ->
      """WITH q AS (SELECT event_id, '}' || props AS raw_payload, props
                    FROM events WHERE event_id % 11 = 0),
          rp AS (SELECT event_id,
                        regexp_replace(raw_payload, '^\}', '') AS patched,
                        props
                 FROM q)
         SELECT event_id,
                CASE WHEN json_valid(patched)
                     THEN json_extract_string(patched, '$.k') END AS k,
                json_valid(patched) AS recovered,
                (CASE WHEN json_valid(patched)
                      THEN json_extract_string(patched, '$.k') END
                 IS NOT DISTINCT FROM json_extract_string(props, '$.k'))
                  AS matches_clean
         FROM rp""",
    "p17_snapshot_diff" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
          nxt AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 3 THEN text || ' [v2]' ELSE text END AS text
            FROM base WHERE doc_id % 11 <> 5
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text || ' [new]' AS text
            FROM base WHERE doc_id % 13 = 2)
          SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.text <> n.text THEN 'changed' END AS change,
                 LENGTH(o.text) AS old_len,
                 LENGTH(n.text) AS new_len
          FROM base o FULL OUTER JOIN nxt n ON o.doc_id = n.doc_id
          WHERE CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.text <> n.text THEN 'changed' END IS NOT NULL""",
    // p18: the policy applied statically (proves the dynamic build
    // resolves to the right projection)
    "p18_masking_policy" -> {
      val h = graft.functions.Portable.duckHash60(
        "concat('mask:', CAST(user_id AS VARCHAR))")
      s"""SELECT event_id, ts,
                 $h AS user_id_hashed,
                 event_type,
                 CAST(floor(value / 10) * 10 AS BIGINT) AS value_bucket
          FROM events"""
    },
    // s14: the same log folded via a row_number window per (read
    // version, key) — structurally different from the struct-max
    "s14_time_travel" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
          log AS (
            SELECT 0 AS ver, doc_id, 'upsert' AS op, text FROM d
            UNION ALL
            SELECT 1, doc_id, 'delete', NULL FROM d WHERE doc_id % 11 = 5
            UNION ALL
            SELECT 1, doc_id, 'upsert', text || ' [v2]' FROM d
            WHERE doc_id % 7 = 3 AND doc_id % 11 <> 5
            UNION ALL
            SELECT 1, doc_id + 1000000, 'upsert', text || ' [new]' FROM d
            WHERE doc_id % 13 = 2
            UNION ALL
            SELECT 2, doc_id, 'delete', NULL FROM d
            WHERE doc_id % 17 = 0 AND doc_id % 11 <> 5
            UNION ALL
            SELECT 2, doc_id, 'upsert',
                   (CASE WHEN doc_id % 7 = 3 THEN text || ' [v2]' ELSE text END)
                     || ' [v3]'
            FROM d WHERE doc_id % 5 = 1 AND doc_id % 11 <> 5 AND doc_id % 17 <> 0
            UNION ALL
            SELECT 2, doc_id + 1100000, 'upsert', text || ' [new2]' FROM d
            WHERE doc_id % 23 = 21),
          s AS (SELECT CAST(k.vr AS BIGINT) AS version_read, l.doc_id, l.op, l.text,
                       row_number() OVER (PARTITION BY k.vr, l.doc_id
                                          ORDER BY l.ver DESC) AS rn
                FROM (SELECT unnest([1, 2]) AS vr) k
                JOIN log l ON l.ver <= k.vr)
          SELECT version_read, doc_id, text
          FROM s WHERE rn = 1 AND op = 'upsert'""",
    "p01_envelope_parse" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
                user_id AS uid,
                event_type AS channel,
                epoch_ms(ts) AS ts_ms,
                CAST(NULL AS VARCHAR) AS missing_field
         FROM events""",
    "j01_lookup_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
                p_name AS sku_name, p_brand AS tm_name, p_type AS category_name
         FROM lineitem LEFT JOIN part ON l_partkey = p_partkey""",
    "j02_broadcast_enrich" ->
      """SELECT o_orderkey, o_custkey, c_name AS user_name,
                n_name AS province_name, r_name AS region_name
         FROM orders
         LEFT JOIN customer ON o_custkey = c_custkey
         LEFT JOIN nation ON c_nationkey = n_nationkey
         LEFT JOIN region ON n_regionkey = r_regionkey""",
    "j03_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",
    "j04_order_wide_join" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS order_detail_id,
                l_extendedprice AS sku_total, o_totalprice AS final_total_amount,
                o_custkey AS user_id
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "j05_join_dedup" ->
      """SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
         QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_partkey ORDER BY l_linenumber) = 1""",
    "j06_outer_join" ->
      """WITH o AS (SELECT * FROM orders WHERE o_orderstatus = 'O'),
              l AS (SELECT l_orderkey, COUNT(*) AS n_returned,
                           SUM(ROUND(l_extendedprice * 100)) / 100 AS returned_amt
                    FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
         SELECT COALESCE(o_orderkey, l_orderkey) AS order_id,
                o_custkey AS user_id,
                o_totalprice AS final_total_amount,
                COALESCE(n_returned, 0) AS n_returned,
                COALESCE(returned_amt, 0.0) AS returned_amt,
                CASE WHEN o_orderkey IS NULL THEN 'detail_only'
                     WHEN l_orderkey IS NULL THEN 'order_only'
                     ELSE 'matched' END AS join_state
         FROM o FULL OUTER JOIN l ON o_orderkey = l_orderkey""",
    "j07_first_order_flag" ->
      """SELECT o_orderkey, o_custkey,
                CASE WHEN row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = 1
                     THEN '1' ELSE '0' END AS if_first_order
         FROM orders""",
    "j08_asof_join" ->
      """WITH o AS (
           SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS t,
                  MAX(o_orderkey) AS ord_key
           FROM orders GROUP BY 1, 2),
         e AS (
           SELECT event_id, user_id, make_timestamp(epoch_us(ts)) AS ts
           FROM events)
         SELECT e.event_id, e.user_id, o.ord_key AS last_order_key
         FROM e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.t""",
    "j09_salted_join" ->
      """SELECT event_id, user_id, n_orders
         FROM events JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                           FROM orders GROUP BY o_custkey)
           ON user_id = o_custkey""",
    "j10_range_join" ->
      s"""WITH c AS (SELECT CAST(i AS BIGINT) AS campaign_id,
                            CAST(DATE '2024-01-01' + INTERVAL 1 DAY * (3 * i) AS TIMESTAMP) AS cstart,
                            CAST(DATE '2024-01-01' + INTERVAL 1 DAY * (3 * i + 7) AS TIMESTAMP) AS cend
                     FROM (SELECT unnest(range(0, $Campaigns)) AS i)),
          e2 AS (SELECT event_id, make_timestamp(epoch_us(ts)) AS ts FROM events)
          SELECT e2.event_id, c.campaign_id
          FROM e2 JOIN c ON e2.ts >= c.cstart AND e2.ts < c.cend""",
    "a01_brand_revenue" ->
      """SELECT p_brand,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100 AS revenue,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "a02_type_revenue" ->
      """SELECT p_brand, p_type,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100 AS amount
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand, p_type""",
    "a03_dau" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(DISTINCT user_id) AS dau
         FROM events GROUP BY 1""",
    "a04_running_sum" ->
      """SELECT l_orderkey, l_linenumber,
                SUM(ROUND(l_extendedprice * 100)) OVER
                  (PARTITION BY l_orderkey ORDER BY l_linenumber
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100 AS running_amount
         FROM lineitem""",
    "p12_quarantine" ->
      """WITH corpus AS (
            SELECT event_id, props FROM events
            UNION ALL
            SELECT event_id + 1000000000, substr(props, 1, len(props) - 2)
            FROM events WHERE event_id % 20 = 0
            UNION ALL
            SELECT event_id + 2000000000, replace(props, '"k"', '"x"')
            FROM events WHERE event_id % 20 = 10
            UNION ALL
            SELECT event_id + 3000000000, regexp_replace(props, '[0-9]+', '"x"', 'g')
            FROM events WHERE event_id % 20 = 5),
          verdicts AS (
            SELECT event_id, props,
                   CASE WHEN NOT json_valid(props) THEN 'malformed_json'
                        WHEN json_extract_string(props, '$.k') IS NULL THEN 'missing_field'
                        WHEN NOT regexp_matches(json_extract_string(props, '$.k'),
                                                '^-?[0-9]+$') THEN 'type_mismatch'
                   END AS reason
            FROM corpus)
          SELECT event_id, props, reason FROM verdicts WHERE reason IS NOT NULL""",
    "a11_revenue_rollup" ->
      """SELECT r_name, n_name,
                SUM(ROUND(o_totalprice * 100)) / 100 AS revenue,
                COUNT(*) AS n_orders,
                CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    "a18_event_cube" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS dt, event_type,
                COUNT(*) AS n_events,
                SUM(ROUND(value * 100)) / 100 AS total_value,
                CAST(GROUPING(dt, event_type) AS BIGINT) AS gid
         FROM events
         GROUP BY CUBE (dt, event_type)""",
    "a12_event_pivot" ->
      """SELECT CAST(ts AS DATE) AS dt,
                CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS click,
                CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS error,
                CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
                CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS signup,
                CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS view
         FROM events GROUP BY 1""",
    "a13_value_quantiles" ->
      """WITH r AS (SELECT event_type, value, event_id,
                           row_number() OVER (PARTITION BY event_type
                                              ORDER BY value, event_id) AS rn,
                           COUNT(*) OVER (PARTITION BY event_type) AS n
                    FROM events)
         SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
                MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
                MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
                MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
         FROM r GROUP BY event_type""",
    // the gap-and-island construction st08's oracle established; the
    // interval compare is full-microsecond precision, matching the
    // Spark side's unix_micros arithmetic
    "a16_sessionize" ->
      """WITH e AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts FROM events),
         o AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (
           SELECT user_id, ts,
                  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
           FROM o)
         SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
                user_id, COUNT(*) AS n_events
         FROM s GROUP BY user_id, sid""",
    // p22: same one-pass distinct counts; the pair distinct counted
    // over a row struct on both engines
    "p22_fd_audit" ->
      """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events),
          f AS (
            SELECT 'event_id' AS det, 'user_id' AS dep,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_det,
                   CAST(COUNT(DISTINCT struct_pack(a := event_id, b := user_id))
                        AS BIGINT) AS n_pair
            FROM events
            UNION ALL
            SELECT 'event_id', 'event_type',
                   CAST(COUNT(DISTINCT event_id) AS BIGINT),
                   CAST(COUNT(DISTINCT struct_pack(a := event_id, b := event_type))
                        AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'user_id', 'event_type',
                   CAST(COUNT(DISTINCT user_id) AS BIGINT),
                   CAST(COUNT(DISTINCT struct_pack(a := user_id, b := event_type))
                        AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'event_type', 'props',
                   CAST(COUNT(DISTINCT event_type) AS BIGINT),
                   CAST(COUNT(DISTINCT struct_pack(a := event_type, b := props))
                        AS BIGINT)
            FROM events
            UNION ALL
            SELECT 'props', 'event_type',
                   CAST(COUNT(DISTINCT props) AS BIGINT),
                   CAST(COUNT(DISTINCT struct_pack(a := props, b := event_type))
                        AS BIGINT)
            FROM events)
          SELECT det, dep, n_rows, n_det, n_pair,
                 n_det = n_pair AS fd_holds,
                 CAST(n_det * 1000 // n_rows AS BIGINT) AS det_key_pm
          FROM f, t""",
    // w15: the same picked median, island key and >=3 floor
    "w15_hot_streaks" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS rev_cents
                        FROM orders GROUP BY 1),
          d2 AS (SELECT dt, rev_cents,
                        date_diff('day', DATE '1970-01-01', dt) AS ed,
                        CAST(row_number() OVER (ORDER BY rev_cents, dt)
                             AS BIGINT) AS r,
                        CAST(COUNT(*) OVER () AS BIGINT) AS n
                 FROM daily),
          med AS (SELECT rev_cents AS med_cents FROM d2
                  WHERE r = CAST(ceil(n / 2.0) AS BIGINT)),
          ab AS (SELECT dt, rev_cents, ed,
                        ed - row_number() OVER (ORDER BY ed) AS grp
                 FROM d2, med WHERE rev_cents > med_cents)
          SELECT strftime(MIN(dt), '%Y-%m-%d') AS start_dt,
                 strftime(MAX(dt), '%Y-%m-%d') AS end_dt,
                 CAST(COUNT(*) AS BIGINT) AS len_days,
                 CAST(SUM(rev_cents) AS BIGINT) AS streak_cents
          FROM ab GROUP BY grp HAVING COUNT(*) >= 3""",
    // a43: the same cross-multiplied ratio; HUGEINT carries the scale
    "a43_weekday_index" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS rev_cents
                        FROM orders GROUP BY 1),
          g AS (SELECT CAST(dayofweek(dt) + 1 AS BIGINT) AS dow1,
                       CAST(COUNT(*) AS BIGINT) AS n_days,
                       CAST(SUM(rev_cents) AS BIGINT) AS rev_sum
                FROM daily GROUP BY 1),
          t AS (SELECT CAST(SUM(n_days) AS BIGINT) AS n_total,
                       CAST(SUM(rev_sum) AS BIGINT) AS rev_total FROM g),
          i AS (SELECT dow1, n_days, rev_sum,
                       CAST((CAST(rev_sum AS HUGEINT) * n_total * 1000)
                            // (CAST(n_days AS HUGEINT) * rev_total)
                            AS BIGINT) AS index_pm
                FROM g, t)
          SELECT i.*, (SELECT MAX(index_pm) - MIN(index_pm) FROM i)
                        AS spread_pm
          FROM i""",
    // w17: the naive single-window drain — proves the bucketed
    // decomposition reproduces it exactly
    "w17_global_rank" ->
      """WITH s AS (SELECT o_custkey AS custkey,
                           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                                AS BIGINT) AS spend_cents
                    FROM orders GROUP BY 1),
          r AS (SELECT custkey, spend_cents,
                       CAST(row_number() OVER (ORDER BY spend_cents, custkey)
                            AS BIGINT) AS rnk,
                       CAST(SUM(spend_cents) OVER
                              (ORDER BY spend_cents, custkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM s),
          t AS (SELECT CAST(SUM(spend_cents) AS BIGINT) AS tot,
                       CAST(COUNT(*) AS BIGINT) AS n FROM s)
          SELECT custkey, spend_cents, rnk,
                 rnk * 10 > n * 9 AS is_top_decile,
                 CAST(CAST(cum AS HUGEINT) * 1000 // tot AS BIGINT)
                   AS cum_share_pm
          FROM r, t""",
    // a45: the same descending cumulative share and class cuts via the
    // naive window
    "a45_pareto_abc" ->
      """WITH s AS (SELECT l_partkey AS partkey,
                           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                                AS BIGINT) AS rev_cents
                    FROM lineitem GROUP BY 1),
          r AS (SELECT partkey, rev_cents,
                       CAST(row_number() OVER (ORDER BY rev_cents DESC, partkey)
                            AS BIGINT) AS rnk,
                       CAST(SUM(rev_cents) OVER
                              (ORDER BY rev_cents DESC, partkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM s),
          t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM s),
          i AS (SELECT partkey, rev_cents, rnk,
                       CAST(CAST(cum AS HUGEINT) * 1000 // tot AS BIGINT)
                         AS cum_share_pm
                FROM r, t)
          SELECT i.*, CASE WHEN cum_share_pm <= 800 THEN 'A'
                           WHEN cum_share_pm <= 950 THEN 'B'
                           ELSE 'C' END AS abc
          FROM i""",
    // j22: the naive single-window sweep line with the same packed tie
    "j22_max_concurrency" ->
      """WITH e AS (SELECT epoch_us(ts) AS tsu0, event_id FROM events),
          b AS (SELECT tsu0 AS tsu, CAST(1 AS BIGINT) AS delta, event_id
                FROM e
                UNION ALL
                SELECT tsu0 + 3600000000, CAST(-1 AS BIGINT), event_id
                FROM e),
          c AS (SELECT tsu,
                       CAST(SUM(delta) OVER
                         (ORDER BY tsu,
                                   (delta + 1) * 1099511627776 + event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM b)
          SELECT strftime(CAST(make_timestamp(tsu) AS DATE), '%Y-%m-%d')
                   AS dt,
                 CAST(MAX(cum) AS BIGINT) AS max_concurrent,
                 CAST(COUNT(*) AS BIGINT) AS n_bounds
          FROM c GROUP BY 1""",
    // j23: the naive sweep (window lead + running sum), same day clip
    "j23_interval_coverage" ->
      """WITH e AS (SELECT epoch_us(ts) AS tsu0, event_id FROM events),
          b AS (SELECT tsu0 AS tsu, CAST(1 AS BIGINT) AS delta, event_id
                FROM e
                UNION ALL
                SELECT tsu0 + 3600000000, CAST(-1 AS BIGINT), event_id
                FROM e),
          c AS (SELECT tsu,
                       SUM(delta) OVER
                         (ORDER BY tsu,
                                   (delta + 1) * 1099511627776 + event_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
                       lead(tsu) OVER
                         (ORDER BY tsu,
                                   (delta + 1) * 1099511627776 + event_id)
                         AS next_tsu
                FROM b),
          seg AS (SELECT tsu, next_tsu FROM c
                  WHERE cum > 0 AND next_tsu > tsu),
          dys AS (SELECT tsu, next_tsu,
                         unnest(generate_series(
                           CAST(make_timestamp(tsu) AS DATE),
                           CAST(make_timestamp(next_tsu - 1) AS DATE),
                           INTERVAL 1 DAY)) AS dd
                  FROM seg),
          x AS (SELECT CAST(dd AS DATE) AS d,
                       epoch_us(CAST(CAST(dd AS DATE) AS TIMESTAMP))
                         AS day_us,
                       tsu, next_tsu
                FROM dys)
          SELECT strftime(d, '%Y-%m-%d') AS dt,
                 CAST(SUM(least(next_tsu, day_us + 86400000000) -
                          greatest(tsu, day_us)) AS BIGINT) AS covered_us
          FROM x GROUP BY 1""",
    // j24: the same naive sweep, quiet stretches, MAX per day
    "j24_max_quiet_gap" ->
      """WITH e AS (SELECT epoch_us(ts) AS tsu0, event_id FROM events),
          b AS (SELECT tsu0 AS tsu, CAST(1 AS BIGINT) AS delta, event_id
                FROM e
                UNION ALL
                SELECT tsu0 + 60000000, CAST(-1 AS BIGINT), event_id
                FROM e),
          c AS (SELECT tsu,
                       SUM(delta) OVER
                         (ORDER BY tsu,
                                   (delta + 1) * 1099511627776 + event_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
                       lead(tsu) OVER
                         (ORDER BY tsu,
                                   (delta + 1) * 1099511627776 + event_id)
                         AS next_tsu
                FROM b),
          seg AS (SELECT tsu, next_tsu FROM c
                  WHERE cum = 0 AND next_tsu > tsu),
          dys AS (SELECT tsu, next_tsu,
                         unnest(generate_series(
                           CAST(make_timestamp(tsu) AS DATE),
                           CAST(make_timestamp(next_tsu - 1) AS DATE),
                           INTERVAL 1 DAY)) AS dd
                  FROM seg),
          x AS (SELECT CAST(dd AS DATE) AS d,
                       epoch_us(CAST(CAST(dd AS DATE) AS TIMESTAMP))
                         AS day_us,
                       tsu, next_tsu
                FROM dys)
          SELECT strftime(d, '%Y-%m-%d') AS dt,
                 CAST(MAX(least(next_tsu, day_us + 86400000000) -
                          greatest(tsu, day_us)) AS BIGINT) AS max_quiet_us,
                 CAST(COUNT(*) AS BIGINT) AS n_quiet
          FROM x GROUP BY 1""",
    // a47: the naive cumulative-weight window, same integer
    // cross-multiplied pick
    "a47_weighted_quartiles" ->
      """WITH li AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                              AS price_cents,
                            CAST(l_quantity AS BIGINT) AS qty,
                            l_orderkey * 16 + l_linenumber AS tie
                     FROM lineitem),
          c AS (SELECT price_cents, qty,
                       CAST(SUM(qty) OVER (ORDER BY price_cents, tie
                                           ROWS UNBOUNDED PRECEDING)
                            AS BIGINT) AS cum
                FROM li),
          t AS (SELECT CAST(SUM(qty) AS BIGINT) AS w_total FROM li),
          q AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS quartile)
          SELECT quartile, w_total,
                 arg_min(price_cents, cum) AS value_cents
          FROM q, t, c
          WHERE 4 * cum >= quartile * w_total
          GROUP BY 1, 2""",
    // a46: the same sorted-vector identity via the naive window ranks
    "a46_gini" ->
      """WITH s AS (SELECT o_custkey AS custkey,
                           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                                AS BIGINT) AS spend_cents
                    FROM orders GROUP BY 1),
          r AS (SELECT spend_cents,
                       CAST(row_number() OVER (ORDER BY spend_cents, custkey)
                            AS BIGINT) AS rnk
                FROM s),
          t AS (SELECT SUM(CAST(rnk AS HUGEINT) * spend_cents) AS srx,
                       CAST(SUM(spend_cents) AS BIGINT) AS sx,
                       CAST(COUNT(*) AS BIGINT) AS n FROM r)
          SELECT CAST((2 * srx - (CAST(n AS HUGEINT) + 1) * sx) * 1000
                      // (CAST(n AS HUGEINT) * sx) AS BIGINT) AS gini_pm,
                 n AS n_users, sx AS total_cents
          FROM t""",
    // a50: same first-month classification, HUGEINT share
    "a50_new_vs_returning" ->
      """WITH om AS (SELECT o_custkey AS custkey,
                            date_trunc('month', CAST(o_orderdate AS DATE))
                              AS m,
                            CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
                     FROM orders),
          ch AS (SELECT custkey, MIN(m) AS m0 FROM om GROUP BY 1),
          j AS (SELECT strftime(om.m, '%Y-%m') AS m, om.m = ch.m0 AS is_new,
                       c
                FROM om JOIN ch USING (custkey))
          SELECT m,
                 CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new,
                 CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_ret,
                 CAST(SUM(CASE WHEN is_new THEN c ELSE 0 END) AS BIGINT)
                   AS rev_new,
                 CAST(SUM(CASE WHEN is_new THEN 0 ELSE c END) AS BIGINT)
                   AS rev_ret,
                 CAST(CAST(SUM(CASE WHEN is_new THEN c ELSE 0 END)
                           AS HUGEINT) * 1000
                      // (SUM(CASE WHEN is_new THEN c ELSE 0 END)
                         + SUM(CASE WHEN is_new THEN 0 ELSE c END))
                      AS BIGINT) AS new_share_pm
          FROM j GROUP BY 1""",
    // j26: same max-over-lines completion instant, integral averages
    "j26_lead_time" ->
      """WITH ls AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines,
                            MAX(CAST(l_shipdate AS DATE)) AS last_ship
                     FROM lineitem GROUP BY 1),
          j AS (SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS m,
                       n_lines,
                       CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                      last_ship) AS BIGINT) AS lead_d
                FROM orders JOIN ls ON o_orderkey = l_orderkey)
          SELECT m, CAST(COUNT(*) AS BIGINT) AS n_orders,
                 CAST(SUM(n_lines) AS BIGINT) AS n_lines,
                 CAST(SUM(lead_d) AS BIGINT) AS lead_days_sum,
                 CAST(SUM(lead_d) AS BIGINT) // COUNT(*) AS avg_lead_d,
                 CAST(SUM(lead_d) AS BIGINT) * 1000 // COUNT(*)
                   AS avg_lead_mpd
          FROM j GROUP BY 1""",
    // w20: dayofweek rebased (f03's lock), cross-multiplied share
    "w20_weekly_heatmap" ->
      """WITH c AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow1,
                           CAST(hour(ts) AS BIGINT) AS hr,
                           CAST(COUNT(*) AS BIGINT) AS n_events
                    FROM events GROUP BY 1, 2),
          t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS n_total FROM c)
          SELECT dow1, hr, n_events,
                 CAST(CAST(n_events AS HUGEINT) * 1000 // n_total
                      AS BIGINT) AS share_pm
          FROM c, t""",
    // w19: same densify + IGNORE NULLS carry
    "w19_locf_fill" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS rev_cents
                        FROM orders GROUP BY 1),
          cal AS (SELECT unnest(generate_series(MIN(dt), MAX(dt),
                                INTERVAL 1 DAY)) AS dtt
                  FROM daily),
          j AS (SELECT CAST(dtt AS DATE) AS dt, rev_cents
                FROM cal LEFT JOIN daily ON CAST(dtt AS DATE) = daily.dt),
          f AS (SELECT dt, rev_cents,
                       last_value(rev_cents IGNORE NULLS) OVER
                         (ORDER BY dt ROWS UNBOUNDED PRECEDING)
                         AS rev_filled
                FROM j)
          SELECT strftime(dt, '%Y-%m-%d') AS dt, rev_cents,
                 CAST(rev_filled AS BIGINT) AS rev_filled,
                 rev_cents IS NOT NULL AS is_observed
          FROM f""",
    // a49: same snowflake join, ROLLUP grains, GROUPING bitmask
    "a49_rollup_revenue" ->
      """SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
                CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS rev_cents,
                CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    // a48: same calendar pairing, HUGEINT components, pinned derivation
    "a48_revenue_autocorr" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice) AS BIGINT))
                               AS BIGINT) AS rev_d
                        FROM orders GROUP BY 1),
          k AS (SELECT CAST(unnest([1, 7]) AS BIGINT) AS lag_d),
          l AS (SELECT lag_d, a.rev_d AS x, b.rev_d AS y
                FROM k, daily a, daily b
                WHERE a.dt = b.dt + CAST(lag_d AS INT)),
          t AS (SELECT lag_d, CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx,
                       CAST(SUM(y) AS BIGINT) AS sy,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(y AS HUGEINT) * y) AS syy
                FROM l GROUP BY 1)
          SELECT lag_d, n, sx, sy,
                 CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx > 0
                       AND n * syy - CAST(sy AS HUGEINT) * sy > 0
                      THEN CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx
                                        AS DOUBLE))
                              * sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy
                                          AS DOUBLE)))
                 END AS pearson_r
          FROM t""",
    // a44: the same strictly-after chained minima
    "a44_funnel_conversion" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
                    WHERE event_type = 'view' GROUP BY 1),
          c AS (SELECT e.user_id, MIN(ts) AS c_ts FROM events e
                JOIN v USING (user_id)
                WHERE event_type = 'click' AND ts > v_ts GROUP BY 1),
          p AS (SELECT e.user_id, MIN(ts) AS p_ts FROM events e
                JOIN c USING (user_id)
                WHERE event_type = 'purchase' AND ts > c_ts GROUP BY 1),
          n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS nv,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS nc,
                       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS np)
          SELECT CAST(1 AS BIGINT) AS step_n, 'view' AS step,
                 nv AS n_users,
                 CASE WHEN nv > 0 THEN CAST(1000 AS BIGINT) END AS conv_pm
          FROM n
          UNION ALL
          SELECT CAST(2 AS BIGINT), 'click', nc,
                 CASE WHEN nv > 0 THEN nc * 1000 // nv END FROM n
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'purchase', np,
                 CASE WHEN nc > 0 THEN np * 1000 // nc END FROM n""",
    // w16: the same month-truncated offsets and per-cohort base
    "w16_cohort_retention" ->
      """WITH om AS (SELECT DISTINCT o_custkey AS custkey,
                            date_trunc('month', CAST(o_orderdate AS DATE)) AS m
                     FROM orders),
          ch AS (SELECT custkey, MIN(m) AS cohort FROM om GROUP BY 1),
          cells AS (SELECT cohort,
                           CAST(date_diff('month', cohort, m) AS BIGINT)
                             AS offset_m,
                           CAST(COUNT(DISTINCT custkey) AS BIGINT) AS n_active
                    FROM om JOIN ch USING (custkey) GROUP BY 1, 2),
          b AS (SELECT cohort, n_active AS n_cohort FROM cells
                WHERE offset_m = 0)
          SELECT strftime(cohort, '%Y-%m') AS cohort_m, offset_m, n_active,
                 n_cohort, n_active * 1000 // n_cohort AS retention_pm
          FROM cells JOIN b USING (cohort)""",
    // p24: the same per-table key audit, unioned
    "p24_pk_audit" -> Seq(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey * 16 + l_linenumber",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id",
    ).map { case (t, e) => duckPk(t, e) }.mkString("\nUNION ALL\n"),
    // p25: same long-form explode, same floored per-milles, same TVD
    // and (diff desc, value desc) top pick
    "p25_distribution_drift" -> duckDriftAuditSql,
    // p23: the same anti-join orphan counts per edge
    "p23_fk_audit" ->
      """WITH e1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
                       CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1
                                     ELSE 0 END) AS BIGINT) AS n_orphans
                     FROM lineitem l LEFT JOIN (
                       SELECT DISTINCT o_orderkey FROM orders) o
                       ON l.l_orderkey = o.o_orderkey),
          e2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
                        CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1
                                      ELSE 0 END) AS BIGINT) AS n_orphans
                 FROM orders o LEFT JOIN (
                   SELECT DISTINCT c_custkey FROM customer) c
                   ON o.o_custkey = c.c_custkey),
          e3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_child,
                        CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1
                                      ELSE 0 END) AS BIGINT) AS n_orphans
                 FROM lineitem l LEFT JOIN (
                   SELECT DISTINCT p_partkey FROM part) p
                   ON l.l_partkey = p.p_partkey)
          SELECT 'lineitem->orders' AS edge, n_child, n_orphans,
                 CAST(n_orphans * 1000 // n_child AS BIGINT) AS orphan_pm
          FROM e1
          UNION ALL
          SELECT 'orders->customer', n_child, n_orphans,
                 CAST(n_orphans * 1000 // n_child AS BIGINT) FROM e2
          UNION ALL
          SELECT 'lineitem->part', n_child, n_orphans,
                 CAST(n_orphans * 1000 // n_child AS BIGINT) FROM e3""",
    // a42: the same per-key product identity; left/right volumes over
    // the COMMON keys only (inner-join semantics on both engines)
    "a42_join_size_forecast" ->
      """WITH ec AS (SELECT user_id AS k, COUNT(*) AS ce
                     FROM events GROUP BY 1),
          oc AS (SELECT o_custkey AS k, COUNT(*) AS co
                 FROM orders GROUP BY 1),
          j AS (SELECT ec.k, CAST(ce AS HUGEINT) * co AS prod, ce, co
                FROM ec JOIN oc USING (k))
          SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_common,
                 CAST(SUM(ce) AS BIGINT) AS left_rows,
                 CAST(SUM(co) AS BIGINT) AS right_rows,
                 CAST(SUM(prod) AS BIGINT) AS join_rows,
                 CAST(MAX(prod) AS BIGINT) AS top_key_rows,
                 CAST((CAST(MAX(prod) AS HUGEINT) * 1000) // SUM(prod)
                      AS BIGINT) AS top_share_pm
          FROM j""",
    // f06: algebraic folds are merge-order-free; varchar min/max under
    // binary collation
    // j28: Q5 shape; revenue through the integer-cents contract
    "j28_star_revenue" ->
      """SELECT n_name,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100
                  AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND c_nationkey = s_nationkey
           AND r_name = 'ASIA'
         GROUP BY n_name""",
    "w21_ewma" -> duckEwmaSql,
    "w22_rolling_median" -> duckRollingMedianSql,
    // w23: same micro-slope quantize, same injective pick
    "w24_rank_battery" ->
      """SELECT c_nationkey, c_custkey,
                CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
                CAST(RANK() OVER w AS INTEGER) AS rnk,
                CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
                PERCENT_RANK() OVER w AS prnk,
                CUME_DIST() OVER w AS cd,
                CAST(NTILE(4) OVER w AS BIGINT) AS quartile
         FROM customer WHERE c_custkey % 5 = 0
         WINDOW w AS (PARTITION BY c_nationkey
                      ORDER BY c_acctbal, c_custkey)""",
    "w23_theil_sen" ->
      """WITH d AS (
           SELECT o_orderpriority AS priority,
                  CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                       AS BIGINT) AS x,
                  CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS y
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1998-01-01'
           GROUP BY 1, 2),
          s AS (
           SELECT a.priority, a.x AS xa, b.x AS xb,
                  (b.y - a.y) * 1000000 // (b.x - a.x) AS slope_micro
           FROM d a JOIN d b ON a.priority = b.priority AND a.x < b.x),
          r AS (
           SELECT priority, slope_micro,
                  CAST(row_number() OVER (PARTITION BY priority
                         ORDER BY slope_micro, xa, xb) AS BIGINT) AS rn,
                  CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS np
           FROM s)
         SELECT priority, np AS n_pairs, slope_micro AS ts_slope_micro
         FROM r WHERE rn = (np + 1) // 2""",
    // a55: whole-day gaps, suffix-sum at-risk, floored per-milles
    "a55_survival_curve" ->
      """WITH g AS (
           SELECT CAST(CAST(o_orderdate AS DATE)
                     - CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS DATE)
                  AS BIGINT) AS gap_days
           FROM orders QUALIFY gap_days IS NOT NULL),
          h AS (SELECT gap_days, CAST(COUNT(*) AS BIGINT) AS n_gaps
                FROM g GROUP BY 1),
          r AS (SELECT *, CAST(SUM(n_gaps) OVER (ORDER BY gap_days DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS n_at_risk
                FROM h),
          t AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS n_total FROM h)
         SELECT gap_days, n_gaps, n_at_risk,
                n_gaps * 1000 // n_at_risk AS hazard_pm,
                (n_at_risk - n_gaps) * 1000 // n_total AS survival_pm
         FROM r, t""",
    // j36: the oracle keeps the correlated scalar-equality form the
    // Spark side de-correlates into a part-partitioned window min
    "j36_cheapest_supplier" ->
      """WITH offers AS (
           SELECT l_partkey, l_suppkey,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cost_cents
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_size <= 5),
          b AS (
           SELECT o.l_partkey AS p_partkey,
                  MIN(o.l_suppkey) AS best_suppkey,
                  MIN(o.cost_cents) / 100 AS best_cost
           FROM offers o
           WHERE o.cost_cents = (SELECT MIN(o2.cost_cents) FROM offers o2
                                 WHERE o2.l_partkey = o.l_partkey)
           GROUP BY 1)
         SELECT p_partkey, best_suppkey, s_name, n_name, best_cost
         FROM b JOIN supplier ON best_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey""",
    // j37: Q1 with the same exact integer money lanes; DuckDB's
    // integer sums go HUGEINT, so every cents output re-casts through
    // `//` (the w13 lesson); averages divide the same exact integers
    "j37_pricing_summary" ->
      """WITH b AS (
           SELECT l_returnflag, l_linestatus, l_quantity,
                  CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS e100,
                  CAST(ROUND(l_discount * 100) AS BIGINT) AS d100,
                  CAST(ROUND(l_tax * 100) AS BIGINT) AS t100
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '2001-09-01')
         SELECT l_returnflag, l_linestatus,
                CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                CAST(SUM(e100) AS BIGINT) / 100 AS sum_base_price,
                CAST(SUM(e100 * (100 - d100)) // 100 AS BIGINT)
                  AS disc_price_cents,
                CAST(SUM(e100 * (100 - d100) * (100 + t100)) // 10000
                  AS BIGINT) AS charge_cents,
                CAST(SUM(l_quantity) AS BIGINT) / COUNT(*) AS avg_qty,
                (CAST(SUM(e100) AS BIGINT) / COUNT(*)) / 100 AS avg_price,
                (CAST(SUM(d100) AS BIGINT) / COUNT(*)) / 100 AS avg_disc,
                CAST(COUNT(*) AS BIGINT) AS count_order
         FROM b GROUP BY 1, 2""",
    // j38: Q3 verbatim; the ORDER BY carries the orderkey tie-break so
    // the LIMIT picks the same SET on both engines
    "j38_shipping_priority" ->
      """WITH r AS (
           SELECT l_orderkey, o_orderdate,
                  CAST(SUM(ROUND(l_extendedprice * (1 - l_discount) * 100))
                    AS BIGINT) AS rev_cents
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1998-01-01'
             AND l_shipdate > TIMESTAMP '1998-01-01'
           GROUP BY 1, 2)
         SELECT l_orderkey AS order_id, rev_cents / 100 AS revenue,
                strftime(o_orderdate, '%Y-%m-%d') AS order_dt
         FROM r ORDER BY rev_cents DESC, l_orderkey LIMIT 10""",
    // j39: Q6; the discount band matches on round(d*100) integers
    "j39_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
                          CAST(ROUND(l_discount * 100) AS BIGINT)) // 100
                  AS BIGINT) AS forfeit_cents,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND l_quantity < 24
           AND CAST(ROUND(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7""",
    // j40: Q7 verbatim with the symmetric nation-pair disjunction
    "j40_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS BIGINT) AS ship_year,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100
                  AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
           AND l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3""",
    // j41: Q8 as CASE-sum-over-sum, share in exact per-mille
    "j41_market_share" ->
      """WITH v AS (
           SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                  CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS rev_cents,
                  sn.n_name AS supp_nation
           FROM lineitem
           JOIN part ON l_partkey = p_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation cn ON c_nationkey = cn.n_nationkey
           JOIN region ON cn.n_regionkey = r_regionkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation sn ON s_nationkey = sn.n_nationkey
           WHERE r_name = 'ASIA' AND p_type = 'ECONOMY')
         SELECT o_year,
                CAST(SUM(rev_cents) AS BIGINT) / 100 AS total_rev,
                CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                              THEN rev_cents ELSE 0 END) AS BIGINT) / 100
                  AS nation_rev,
                CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                              THEN rev_cents ELSE 0 END) * 1000
                     // SUM(rev_cents) AS BIGINT) AS share_pm
         FROM v GROUP BY 1""",
    // j42: Q10 with the custkey tie-break inside the LIMIT CTE
    "j42_returned_items" ->
      """WITH r AS (
           SELECT o_custkey,
                  CAST(SUM(ROUND(l_extendedprice * (1 - l_discount) * 100))
                    AS BIGINT) AS rev_cents
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1997-04-01'
           GROUP BY 1
           ORDER BY rev_cents DESC, o_custkey LIMIT 20)
         SELECT c_custkey, c_name, rev_cents / 100 AS returned_rev, n_name
         FROM r JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey""",
    // j43: Q14; fixture p_type is the bare word, so equality not LIKE
    "j43_promo_effect" ->
      """WITH v AS (
           SELECT CAST(month(l_shipdate) AS BIGINT) AS m,
                  CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS rev_cents,
                  p_type = 'PROMO' AS is_promo
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01')
         SELECT m,
                CAST(SUM(CASE WHEN is_promo THEN rev_cents ELSE 0 END)
                  AS BIGINT) / 100 AS promo_rev,
                CAST(SUM(rev_cents) AS BIGINT) / 100 AS total_rev,
                CAST(SUM(CASE WHEN is_promo THEN rev_cents ELSE 0 END) * 1000
                     // SUM(rev_cents) AS BIGINT) AS promo_pm
         FROM v GROUP BY 1""",
    // j44: the oracle keeps Q15's view + scalar MAX subquery form the
    // Spark side de-correlates into a broadcast 1-row max join-back
    "j44_top_supplier" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(SUM(ROUND(l_extendedprice * (1 - l_discount) * 100))
                    AS BIGINT) AS rev_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, rev_cents / 100 AS total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE rev_cents = (SELECT MAX(rev_cents) FROM revenue)""",
    // j45: the oracle keeps Q18's IN (GROUP BY .. HAVING) quantifier
    // and a correlated scalar for the quantity readback
    "j45_large_volume" ->
      """SELECT c_custkey, c_name, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_dt,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100
                  AS total_price,
                (SELECT CAST(SUM(l_quantity) AS BIGINT) FROM lineitem
                 WHERE l_orderkey = o_orderkey) AS sum_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY 1 HAVING SUM(l_quantity) > 300)""",
    // j46: Q19's raw disjunction with NO hoisted predicates — the
    // Spark side's explicit pre-join pruning must not change results
    "j46_disjunctive_revenue" ->
      """SELECT CAST(CASE
                  WHEN p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                       AND l_quantity BETWEEN 1 AND 11 THEN 1
                  WHEN p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                       AND l_quantity BETWEEN 10 AND 20 THEN 2
                  ELSE 3 END AS BIGINT) AS branch,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100
                  AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)
         GROUP BY 1""",
    // j47: the oracle keeps the correlated "my quantity vs MY part's
    // total" scalar subquery the Spark side windows away
    "j47_dominant_supplier" ->
      """WITH ps AS (
           SELECT l_suppkey, l_partkey, CAST(SUM(l_quantity) AS BIGINT) AS q
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE 'red %'
             AND l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY 1, 2),
          d AS (
           SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_dom
           FROM ps a
           WHERE a.q * 2 > (SELECT SUM(b.q) FROM ps b
                            WHERE b.l_partkey = a.l_partkey)
           GROUP BY 1)
         SELECT l_suppkey AS s_suppkey, s_name, n_name, n_dom
         FROM d JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey""",
    // j50: the same SQL text Spark runs, modulo DuckDB's // floor div
    // — both engines plan the scalar subquery natively
    "j50_native_scalar_subquery" ->
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
                  CAST(SUM(ROUND(l_extendedprice * (1 - l_discount) * 100))
                    AS BIGINT) AS rev_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, rev_cents / 100 AS total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE rev_cents = (SELECT MAX(rev_cents) FROM revenue)""",
    // j51: j45's oracle verbatim — DuckDB also plans both subqueries
    // natively, so the differential compares native-to-native
    "j51_native_in_having" ->
      """SELECT c_custkey, c_name, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_dt,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100
                  AS total_price,
                (SELECT CAST(SUM(l_quantity) AS BIGINT) FROM lineitem
                 WHERE l_orderkey = o_orderkey) AS sum_qty
         FROM customer JOIN orders ON c_custkey = o_custkey
         WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                              GROUP BY 1 HAVING SUM(l_quantity) > 300)""",
    // j48: Q9's star with the retail-price cost proxy; the 10⁻⁴ lane
    // sums go HUGEINT in DuckDB, so the cents floor re-casts via //
    "j48_product_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                         - CAST(ROUND(p_retailprice * 100) AS BIGINT)
                           * CAST(l_quantity AS BIGINT) * 100) // 10000
                  AS BIGINT) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE 'blue %'
         GROUP BY 1, 2""",
    // j49: Q12's two conditional counts over the derived lateness
    "j49_ship_priority_class" ->
      """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                     THEN 'LATE' ELSE 'ONTIME' END AS lateness,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1""",
    // j34: the oracle keeps the EXISTS the Spark side plans as a
    // residual-condition left semi join
    "j34_order_priority_check" ->
      """SELECT o_orderpriority,
                CAST(COUNT(*) AS BIGINT) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY 1""",
    // j35: the same three-valued-logic legs; with_null MUST be empty
    "j35_not_in_nulls" ->
      """SELECT 'no_null' AS leg, c_custkey FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT 'with_null', c_custkey FROM customer
         WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
         UNION ALL
         SELECT 'in_with_null', c_custkey FROM customer
         WHERE c_custkey IN (SELECT nullif(o_custkey, 7) FROM orders
                             WHERE o_orderpriority = '1-URGENT')""",
    // j33: the oracle keeps BOTH correlated quantifiers the Spark side
    // de-correlates into per-order aggregates
    "j33_waiting_supplier" ->
      """WITH l AS (
           SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate,
                  o_orderstatus
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         SELECT l1.l_suppkey AS s_suppkey,
                CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
         FROM l l1
         WHERE l1.o_orderstatus = 'F'
           AND l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM l l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM l l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate >
                                 l3.o_orderdate + INTERVAL 90 DAY)
         GROUP BY 1""",
    // a53: scalar subquery kept scalar; cross-multiplied gate in exact
    // integer-valued doubles; ppm through HUGEINT floor division
    "a53_revenue_share_having" ->
      """WITH s AS (SELECT l_suppkey AS s_suppkey,
                           SUM(ROUND(l_extendedprice * 100)) AS rev_cents
                    FROM lineitem GROUP BY 1),
          t AS (SELECT SUM(rev_cents) AS tot_cents FROM s)
         SELECT s_suppkey, rev_cents / 100 AS rev,
                CAST(CAST(rev_cents AS HUGEINT) * 1000000
                     // CAST(tot_cents AS HUGEINT) AS BIGINT) AS share_ppm
         FROM s, t WHERE rev_cents * 2000 > tot_cents * 21""",
    // a54: arbitrary set list; per-column grouping flags (portable,
    // unlike GROUPING_ID bit order)
    "a54_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                SUM(ROUND(l_extendedprice * 100)) / 100 AS rev,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
                CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                                 (l_returnflag, l_linestatus))""",
    // j32: DuckDB executes the lateral natively per driving row; Spark
    // must decorrelate to the same rows
    "j32_lateral_topk" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name,
                t.c_custkey, t.c_name, t.c_acctbal AS acctbal
         FROM nation,
         LATERAL (SELECT c_custkey, c_name, c_acctbal FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t""",
    // p26: the in-flight observe counters must equal the relational
    // aggregates over the same scan
    "p26_observe_metrics" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_high_disc,
                CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_returned,
                SUM(ROUND(l_extendedprice * 100)) / 100 AS rev
         FROM lineitem""",
    // f09: the six set operators with explicit multiplicity semantics
    "f09_setop_battery" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
          b AS (SELECT o_custkey AS k FROM orders
                WHERE o_orderstatus = 'F')
         SELECT 'union' AS op, k FROM (SELECT k FROM a UNION SELECT k FROM b)
         UNION ALL
         SELECT 'union_all', k FROM (SELECT k FROM a UNION ALL SELECT k FROM b)
         UNION ALL
         SELECT 'intersect', k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
         UNION ALL
         SELECT 'intersect_all', k
         FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
         UNION ALL
         SELECT 'except', k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
         UNION ALL
         SELECT 'except_all', k
         FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)""",
    // j29: the oracle deliberately keeps the CORRELATED scalar-subquery
    // form the Spark side de-correlates — the differential proves the
    // aggregate+join rewrite. Gate in exact integer-valued doubles.
    "j29_small_qty_revenue" ->
      """SELECT p_brand,
                SUM(ROUND(l.l_extendedprice * 100)) / 100 AS small_rev,
                CAST(COUNT(*) AS BIGINT) AS n_lines
         FROM lineitem l JOIN part ON l.l_partkey = p_partkey
         WHERE l.l_quantity
                 * (SELECT COUNT(*) FROM lineitem l2
                    WHERE l2.l_partkey = l.l_partkey) * 5
               < (SELECT SUM(l3.l_quantity) FROM lineitem l3
                  WHERE l3.l_partkey = l.l_partkey)
         GROUP BY p_brand""",
    // j30: Q13 — COUNT(o_orderkey) over the NULL-extended side yields
    // the zero bucket
    "j30_order_count_distribution" ->
      """WITH pc AS (
           SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
         FROM pc GROUP BY c_count""",
    // j31: Q22 — scalar subquery kept scalar here (Spark broadcasts the
    // 1-row agg); NOT EXISTS vs the urgent slice = Spark's left_anti
    "j31_above_avg_silent" ->
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                CAST(COUNT(*) AS BIGINT) AS numcust,
                SUM(ROUND(c_acctbal * 100)) / 100 AS totacctbal
         FROM customer c
         WHERE ROUND(c_acctbal * 100) >
               (SELECT AVG(ROUND(c2.c_acctbal * 100)) FROM customer c2
                WHERE c2.c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey""",
    // f08: floats quantized once to milli-BIGINTs (floor — no tie);
    // every DuckDB list_sum re-cast from HUGEINT; intersect spelled as
    // distinct-filter to pin Spark's array_intersect semantics
    "f08_collection_suite" ->
      """WITH e AS (SELECT vec_id,
                      list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))
                        AS q
                    FROM embeddings)
         SELECT vec_id,
                CAST(list_sum(q) AS BIGINT) AS sum_fold,
                CAST(len(list_filter(q, x -> x > 0)) AS BIGINT) AS n_pos,
                len(list_filter(q, x -> x > 400)) > 0 AS any_gt,
                len(list_filter(q, x -> NOT (x > -500))) = 0 AS all_gt,
                CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT)
                  AS sumsq,
                CAST(list_sum(list_transform(range(1, len(q) + 1),
                       i -> q[i] * q[len(q) - i + 1])) AS BIGINT) AS palindot,
                array_to_string(list_sort(q)[1:5], ',') AS low5,
                array_to_string(list_sort(q, 'DESC')[1:5], ',') AS top5,
                CAST(len(list_distinct(q)) AS BIGINT) AS n_distinct,
                CAST(list_position(q, list_max(q)) AS BIGINT) AS argmax1,
                list_max(q) AS qmax,
                list_min(q) AS qmin,
                CAST(len(flatten([q[1:3], q[62:64]])) AS BIGINT) AS n_ends,
                CAST(list_sum(range(1, (vec_id % 7) + 2)) AS BIGINT) AS tri,
                list_contains(q, 0) AS has_zero,
                CAST(len(list_distinct(list_filter(list_sort(q)[1:10],
                       x -> list_contains(list_sort(q)[6:15], x)))) AS BIGINT)
                  AS n_olap,
                q[7] AS seventh,
                q[-1] AS lastq
         FROM e""",
    // f10: the map algebra re-derived from token LISTS — no DuckDB
    // MAP anywhere, so the differential is structurally independent;
    // empty-fold lanes COALESCE to 0 (DuckDB list_sum([]) is NULL
    // where Spark's aggregate init is 0) and empty-join lanes to ''
    // (array_to_string([]) is NULL where concat_ws([]) is '')
    "f10_map_suite" ->
      """WITH d AS (SELECT doc_id,
                      list_filter(string_split(text, ' '),
                                  t -> len(t) > 0) AS toks
                    FROM documents),
         e AS (SELECT doc_id, toks,
                      list_sort(list_distinct(toks)) AS ks
               FROM d),
         f AS (SELECT doc_id, toks, ks,
                      list_transform(ks,
                        k -> len(list_filter(toks, x -> x = k))) AS cnts
               FROM e)
         SELECT doc_id,
                CAST(len(ks) AS BIGINT) AS n_keys,
                CAST(len(toks) AS BIGINT) AS total,
                COALESCE(array_to_string(ks, ','), '') AS keys_csv,
                COALESCE(array_to_string(
                  list_filter(ks,
                    k -> len(list_filter(toks, x -> x = k)) >= 2), ','), '')
                  AS rep_keys_csv,
                CAST(COALESCE(list_sum(list_transform(cnts, c -> c * c)), 0)
                  AS BIGINT) AS sumsq,
                CAST(CASE WHEN list_contains(toks, 'the')
                          THEN len(list_filter(toks, x -> x = 'the'))
                     END AS BIGINT) AS n_the,
                CAST(-len(list_filter(cnts, c -> c = 1)) AS BIGINT)
                  AS zip_delta,
                CAST(len(ks) + 1 AS BIGINT) AS n_after_concat,
                CAST(-1 AS BIGINT) AS sentinel_val,
                list_contains(toks, 'data') AS has_data,
                COALESCE(array_to_string(list_transform(ks,
                  k -> k || ':' ||
                       CAST(len(list_filter(toks, x -> x = k)) AS VARCHAR)),
                  ','), '') AS entries_csv
         FROM f""",
    // f07: one shared ordering, explicit frames where defaults could
    // diverge; rationals exact through one IEEE division
    "f07_window_suite" ->
      """SELECT user_id, event_id,
                CAST(row_number() OVER w AS BIGINT) AS rnk,
                lead(event_id, 1) OVER w AS next_id,
                lag(event_id, 1) OVER w AS prev_id,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume,
                nth_value(event_id, 3) OVER
                  (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS third_id,
                first_value(event_id) OVER
                  (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS first_id,
                last_value(event_id) OVER
                  (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS last_id
         FROM (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)""",
    // f12: DuckDB has no try-arithmetic — the overflow lanes re-derive
    // through HUGEINT range checks, the cast lanes through TRY_CAST,
    // element_at through native out-of-range list indexing
    "f12_try_suite" ->
      """WITH p AS (SELECT p_partkey, p_size,
                           p_size % 12 - 6 AS k FROM part)
         SELECT p_partkey,
                CASE WHEN CAST(k AS HUGEINT) * 400000000000000000
                          + 8000000000000000000
                       BETWEEN -9223372036854775808 AND 9223372036854775807
                     THEN CAST(CAST(k AS HUGEINT) * 400000000000000000
                          + 8000000000000000000 AS BIGINT) END AS ta,
                CASE WHEN CAST(k AS HUGEINT) * 2000000000000000000
                       BETWEEN -9223372036854775808 AND 9223372036854775807
                     THEN CAST(CAST(k AS HUGEINT) * 2000000000000000000
                          AS BIGINT) END AS tm,
                CASE WHEN p_size % 3 - 1 = 0 THEN NULL
                     ELSE 100 / (p_size % 3 - 1) END AS td,
                TRY_CAST(CASE WHEN p_size % 2 = 0
                              THEN CAST(p_size AS VARCHAR)
                              ELSE 'x' || p_size END AS INTEGER) AS tc_int,
                TRY_CAST('2024-02-' || lpad(CAST(p_size AS VARCHAR), 2, '0')
                  AS DATE) AS tc_date,
                ([10, 20, 30])[p_size % 5 + 1] AS tea,
                CASE WHEN p_size % 2 = 0
                     THEN CAST(1234 AS BIGINT) END AS ttn
         FROM p""",
    // f11: same ANSI ordered-set semantics under different surface
    // names (listagg/percentile_* vs string_agg/quantile_*); the
    // uniquified szkey makes arg_max/arg_min well-defined
    "f11_ordered_agg_suite" ->
      """WITH p AS (SELECT p_brand, p_type, p_size, p_name,
                           p_size * 100000 + p_partkey % 100000 AS szkey
                    FROM part)
         SELECT p_brand,
                string_agg(p_type, '|' ORDER BY p_type)
                  AS types_all,
                string_agg(DISTINCT p_type, '|' ORDER BY p_type)
                  AS types_distinct,
                quantile_cont(p_size, 0.25) AS p25,
                quantile_cont(p_size, 0.5) AS p50,
                quantile_cont(p_size, 0.75) AS p75,
                CAST(quantile_disc(p_size, 0.25) AS DOUBLE) AS pd25,
                CAST(median(p_size) AS DOUBLE) AS med,
                arg_max(p_name, szkey) AS name_of_max,
                arg_min(p_name, szkey) AS name_of_min
         FROM p GROUP BY 1""",
    "f06_agg_suite" ->
      """SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(bit_and(p_size) AS BIGINT) AS size_and,
                CAST(bit_or(p_size) AS BIGINT) AS size_or,
                CAST(bit_xor(p_size) AS BIGINT) AS size_xor,
                bool_and(p_size > 5) AS all_gt5,
                bool_or(p_size > 45) AS any_gt45,
                CAST(count_if(p_size % 2 = 0) AS BIGINT) AS n_even,
                min(p_name) AS name_min,
                max(p_name) AS name_max
         FROM part GROUP BY 1""",
    // f05: least/greatest skip NULLs on both engines; NULL comparisons
    // fall to ELSE
    "f05_conditional_suite" ->
      """SELECT p_partkey,
                CAST(nullif(p_size, 1) AS BIGINT) AS sz_n,
                CAST(coalesce(nullif(p_size, 1), -1) AS BIGINT) AS sz_or_neg,
                CAST(least(nullif(p_size, 1), 25) AS BIGINT)
                  AS least_skips_null,
                CAST(greatest(nullif(p_size, 1), 25) AS BIGINT)
                  AS greatest_skips_null,
                CASE WHEN p_size > 25 THEN 'L'
                     WHEN p_size > 10 THEN 'M' ELSE 'S' END AS size_class,
                nullif(p_size, 1) > 25 AS null_gt,
                CASE WHEN nullif(p_size, 1) > 25 THEN 'big'
                     ELSE 'not-big' END AS case_null_else,
                if(p_size % 2 = 0, 'even', 'odd') AS parity
         FROM part""",
    // f04: positions are 1-based on both engines; split_part/levenshtein
    // by their native names
    "f04_string_suite" ->
      """SELECT p_partkey,
                lpad(p_brand, 12, '#') AS brand_lpad,
                rpad(p_brand, 12, '*') AS brand_rpad,
                translate(p_type, 'aeiou', 'AEIOU') AS type_tr,
                reverse(p_name) AS name_rev,
                repeat(substr(p_brand, 1, 2), 3) AS brand_rep,
                CAST(instr(p_type, 'ED') AS BIGINT) AS ed_pos,
                COALESCE(regexp_extract(p_brand, '([0-9]+)', 1), '')
                  AS brand_digits,
                split_part(p_type, ' ', 2) AS type_mid,
                CAST(levenshtein(p_brand, 'Brand#00') AS BIGINT) AS lev_dist
         FROM part""",
    // f03: dayofweek re-based (DuckDB 0=Sunday -> +1), ISO week via
    // strftime %V, everything else the named calendar function
    "f03_datetime_suite" ->
      """SELECT o_orderkey,
                strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS dt,
                CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                CAST(EXTRACT(quarter FROM o_orderdate) AS BIGINT) AS qtr,
                CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mo,
                CAST(EXTRACT(day FROM o_orderdate) AS BIGINT) AS dom,
                CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow1,
                CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy,
                CAST(strftime(CAST(o_orderdate AS DATE), '%V') AS BIGINT)
                  AS iso_week,
                strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
                  AS month_end,
                strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH,
                         '%Y-%m-%d') AS plus_month,
                strftime(date_trunc('quarter', CAST(o_orderdate AS DATE)),
                         '%Y-%m-%d') AS qtr_start,
                date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS epoch_day
         FROM orders""",
    // w14: the same calendar self-joins (missing days stay missing)
    "w14_period_over_period" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS rev_cents
                        FROM orders GROUP BY 1)
          SELECT strftime(d.dt, '%Y-%m-%d') AS dt, d.rev_cents,
                 w.rev_cents AS wk_cents, y.rev_cents AS yr_cents,
                 CASE WHEN w.rev_cents > 0
                      THEN ((d.rev_cents - w.rev_cents) * 1000) // w.rev_cents
                 END AS wow_pm,
                 CASE WHEN y.rev_cents > 0
                      THEN ((d.rev_cents - y.rev_cents) * 1000) // y.rev_cents
                 END AS yoy_pm
          FROM daily d
          LEFT JOIN daily w ON w.dt = d.dt - INTERVAL 7 DAY
          LEFT JOIN daily y ON y.dt = d.dt - INTERVAL 364 DAY""",
    // a41: the same cross-multiplied split statistic; HUGEINT carries
    // the micro scaling where Spark promotes to decimal(38,0)
    "a51_mad_outliers" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS rev_cents
                        FROM orders GROUP BY 1),
          t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
          med AS (SELECT rev_cents AS med FROM (
                    SELECT rev_cents,
                           row_number() OVER (ORDER BY rev_cents, dt) AS rnk
                    FROM daily), t
                  WHERE rnk = (n + 1) // 2),
          dev AS (SELECT dt, rev_cents, med,
                         abs(rev_cents - med) AS adev
                  FROM daily, med),
          mad AS (SELECT adev AS mad FROM (
                    SELECT adev, row_number() OVER (ORDER BY adev, dt) AS rnk
                    FROM dev), t
                  WHERE rnk = (n + 1) // 2)
          SELECT strftime(dt, '%Y-%m-%d') AS dt, rev_cents, med, adev, mad,
                 adev > 3 * mad AS is_outlier
          FROM dev, mad""",
    "a41_changepoint" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS dt,
                          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                               AS BIGINT) AS rev_cents
                        FROM orders GROUP BY 1),
          t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS st,
                       CAST(COUNT(*) AS BIGINT) AS n FROM daily),
          pre AS (SELECT dt, rev_cents,
                         CAST(row_number() OVER (ORDER BY dt) AS BIGINT) AS i,
                         CAST(SUM(rev_cents) OVER (ORDER BY dt
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sl
                  FROM daily),
          s AS (SELECT strftime(dt, '%Y-%m-%d') AS dt, rev_cents, i, sl, st, n,
                       sl * (n - i) - (st - sl) * i AS num,
                       i * (n - i) AS den
                FROM pre, t WHERE i < n),
          f AS (SELECT s.*,
                       CAST((CAST(abs(num) AS HUGEINT) * 1000000) // den
                            AS BIGINT) AS absdiff_micro
                FROM s)
          SELECT f.*, row_number() OVER (ORDER BY absdiff_micro DESC, i) = 1
                        AS is_peak
          FROM f""",
    // a20x's exact regime: coupon mode ⇒ the union of daily sketches
    // carries the exact coupon set and the estimate IS the exact
    // weekly distinct, which DuckDB computes directly
    "a20x_sketch_reagg_exact" ->
      """WITH e AS (SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id
                    FROM events WHERE user_id < 200),
          wk AS (SELECT strftime(date_trunc('week', CAST(dt AS DATE)),
                          '%Y-%m-%d') AS wk, dt, user_id
                 FROM e)
          SELECT wk, CAST(COUNT(DISTINCT dt) AS BIGINT) AS n_days,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
          FROM wk GROUP BY 1""",
    // a14x's exact regime: no compaction ⇒ finish() is the plain
    // rank-⌈p·n⌉ order statistic; ⌈p·n⌉ is the same exact-rounded IEEE
    // double expression on both engines
    "a14x_quantile_exact" ->
      """WITH v AS (
            SELECT event_type, value,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY value) AS BIGINT) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM events WHERE value IS NOT NULL AND event_id < 4000)
         SELECT event_type, MAX(n) AS n_events,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT))
                         THEN value END) AS p50,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))
                         THEN value END) AS p90,
                MAX(CASE WHEN r = GREATEST(1, CAST(ceil(0.99 * n) AS BIGINT))
                         THEN value END) AS p99
         FROM v GROUP BY event_type""",
    // a15x's exact regime: capacity never binds ⇒ the summary is the
    // exact per-brand count
    "a15x_heavy_hitters_exact" ->
      """WITH bc AS (SELECT p_brand, COUNT(*) AS est_cnt
                     FROM lineitem JOIN part ON l_partkey = p_partkey
                     GROUP BY 1)
         SELECT CAST((SELECT SUM(est_cnt) FROM bc) AS BIGINT) AS n_items,
                p_brand, est_cnt
         FROM bc""",
    "a17_kmv_sample" ->
      s"""WITH uh AS (
            SELECT DISTINCT event_type, user_id,
                   ${graft.functions.Portable.duckHash60(
                     "concat('kmv:', CAST(user_id AS VARCHAR))")} AS h
            FROM events),
          r AS (
            SELECT event_type, user_id, h,
                   CAST(row_number() OVER (PARTITION BY event_type
                                           ORDER BY h, user_id) AS BIGINT) AS rank
            FROM uh)
          SELECT event_type, rank, user_id, h,
                 CASE WHEN MAX(rank) OVER (PARTITION BY event_type) < $KmvK
                      THEN MAX(rank) OVER (PARTITION BY event_type)
                      ELSE CAST(floor(${KmvK - 1}.0 * pow(2.0, 60.0) /
                             CAST(MAX(h) OVER (PARTITION BY event_type) AS DOUBLE))
                           AS BIGINT) END AS est_distinct
          FROM r WHERE rank <= $KmvK""",
    // correlated interval join + rank — structurally different from the
    // Spark side's range-framed window, same semantics
    "j14_multitouch_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                           epoch_us(ts) AS tsu, value FROM events),
          p AS (SELECT event_id AS purchase_id, user_id, tsu,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM e WHERE event_type = 'purchase'),
          c AS (SELECT event_id AS click_id, user_id, tsu FROM e
                WHERE event_type = 'click'),
          j AS (SELECT p.purchase_id, p.user_id, p.cents, c.click_id,
                       c.tsu AS ctsu
                FROM p JOIN c ON p.user_id = c.user_id
                 AND c.tsu >= p.tsu - 604800000000 AND c.tsu < p.tsu),
          r AS (SELECT purchase_id, user_id, cents, click_id,
                       CAST(row_number() OVER (PARTITION BY purchase_id
                                               ORDER BY ctsu, click_id)
                            AS BIGINT) AS click_rank,
                       CAST(COUNT(*) OVER (PARTITION BY purchase_id)
                            AS BIGINT) AS n_clicks
                FROM j)
          SELECT purchase_id, user_id, click_id, click_rank, n_clicks,
                 cents // n_clicks +
                   CASE WHEN click_rank <= cents % n_clicks THEN 1 ELSE 0 END
                   AS credit_cents
          FROM r""",
    "a09_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'signup' GROUP BY 1),
          s2 AS (SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
                 WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
          s3 AS (SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
                 WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
          SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
          UNION ALL SELECT '2_signup_click', COUNT(*) FROM s2
          UNION ALL SELECT '3_signup_click_purchase', COUNT(*) FROM s3""",
    "a10_retention" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS dt FROM events),
          f AS (SELECT user_id, MIN(dt) AS cohort_date FROM ev GROUP BY 1)
          SELECT cohort_date,
                 CAST(date_diff('day', cohort_date, dt) AS BIGINT) AS day_offset,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
          FROM ev JOIN f USING (user_id)
          GROUP BY 1, 2""",
    "j27_asof_tolerance" ->
      s"""WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
                     WHERE event_type = 'click'),
          p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
                WHERE event_type = 'purchase'),
          att AS (SELECT p.event_id, p.user_id, p.tsu,
                    (SELECT c.event_id FROM c
                     WHERE c.user_id = p.user_id AND c.tsu <= p.tsu
                       AND c.tsu >= p.tsu - $AsofTolUs
                     ORDER BY c.tsu DESC, c.event_id DESC LIMIT 1) AS click_id
                  FROM p)
          SELECT a.event_id, a.user_id, a.tsu, a.click_id,
                 c.tsu AS click_tsu, a.tsu - c.tsu AS gap_us
          FROM att a LEFT JOIN c ON c.event_id = a.click_id""",
    "j12_attribution_asof" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
                    WHERE event_type = 'click'),
          p AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
                WHERE event_type = 'purchase'),
          att AS (SELECT p.event_id, p.user_id, p.tsu,
                    (SELECT c.event_id FROM c
                     WHERE c.user_id = p.user_id AND c.tsu <= p.tsu
                     ORDER BY c.tsu DESC, c.event_id DESC LIMIT 1) AS click_id
                  FROM p)
          SELECT a.event_id, a.user_id, a.tsu, a.click_id,
                 c.tsu AS click_tsu, a.tsu - c.tsu AS gap_us
          FROM att a LEFT JOIN c ON c.event_id = a.click_id""",
    "j13_bloom_prune_join" ->
      """SELECT l_orderkey,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100 AS revenue,
                COUNT(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY l_orderkey""",
    "j15_bucketed_join" ->
      """SELECT event_id, user_id, event_type, n_orders, user_spend
         FROM events JOIN (
           SELECT o_custkey, COUNT(*) AS n_orders,
                  SUM(ROUND(o_totalprice * 100)) / 100 AS user_spend
           FROM orders GROUP BY o_custkey) s ON user_id = s.o_custkey""",
    "j11_scd2_history" -> duckScd2Sql,
    // j21: j11's history with the same planted deletions/shifts, the
    // same lag audit
    "j21_scd_audit" ->
      s"""WITH hist AS ($duckScd2Sql),
          f AS (SELECT user_id, version_n, is_current,
                       CASE WHEN version_n % 5 = 0
                            THEN valid_from - INTERVAL 30 MINUTE
                            ELSE valid_from END AS valid_from,
                       valid_to
                FROM hist WHERE version_n % 7 <> 3),
          l AS (SELECT f.*, lag(valid_to) OVER
                  (PARTITION BY user_id ORDER BY version_n) AS prev_to
                FROM f)
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_versions,
                 CAST(SUM(CASE WHEN prev_to IS NOT NULL
                                AND valid_from < prev_to
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
                 CAST(SUM(CASE WHEN prev_to IS NOT NULL
                                AND valid_from > prev_to
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
                 CAST(MAX(CASE WHEN is_current THEN 1 ELSE 0 END)
                      AS BIGINT) AS has_current
          FROM l GROUP BY 1""",
    // j16: structurally different correlated half-open interval join
    // over the same odd-version dim (checks semantics, not plan)
    "j16_point_in_time" ->
      """WITH c AS (SELECT user_id, event_type, ts, event_id,
                           lag(event_type) OVER
                             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
                    FROM events),
          ch AS (SELECT user_id, event_type, ts, event_id FROM c
                 WHERE prev_type IS NULL OR prev_type <> event_type),
          vv AS (SELECT user_id, event_type,
                        CAST(row_number() OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
                          AS version_n,
                        ts AS valid_from,
                        lead(ts) OVER
                          (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
                 FROM ch),
          kept AS (SELECT * FROM vv
                   WHERE version_n % 2 = 1
                     AND (valid_to IS NULL OR valid_to > valid_from))
          SELECT e.event_id, e.user_id,
                 v.version_n, v.event_type AS dim_type,
                 v.version_n IS NOT NULL AS in_version
          FROM events e
          LEFT JOIN kept v
            ON v.user_id = e.user_id
           AND v.valid_from <= e.ts
           AND (v.valid_to IS NULL OR e.ts < v.valid_to)
          WHERE e.event_type = 'click'""",
    "j18_fallback_join" -> {
      val hp = graft.functions.Portable.duckHash60("concat(lang, '|', source)")
      val hl = graft.functions.Portable.duckHash60("lang")
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars FROM documents),
          pc AS (SELECT lang, source,
                   CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS rate_pair
                 FROM d GROUP BY 1, 2
                 HAVING ($hp) % 3 <> 0),
          lc AS (SELECT lang,
                   CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS rate_lang
                 FROM d GROUP BY 1
                 HAVING ($hl) % 4 <> 0),
          gc AS (SELECT CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS rate_global
                 FROM d)
          SELECT doc_id, d.lang, d.source,
                 COALESCE(rate_pair, rate_lang, rate_global) AS rate,
                 CASE WHEN rate_pair IS NOT NULL THEN 'pair'
                      WHEN rate_lang IS NOT NULL THEN 'lang'
                      ELSE 'global' END AS level
          FROM d
          LEFT JOIN pc ON pc.lang = d.lang AND pc.source = d.source
          LEFT JOIN lc ON lc.lang = d.lang, gc"""
    },
    // j17: structurally different arg_max-with-FILTER apply over the
    // same derived changelog (checks the CDC semantics, not the plan)
    "j17_cdc_apply" ->
      """WITH log AS (
           SELECT user_id, epoch_us(ts) AS tsu, event_id AS eid,
                  CASE event_type WHEN 'signup' THEN 'insert'
                                  WHEN 'error' THEN 'delete'
                                  ELSE 'update' END AS op,
                  CASE WHEN event_type IN ('signup','click','purchase')
                       THEN CAST(ROUND(value*100) AS BIGINT) END AS balance_c,
                  CASE event_type WHEN 'signup' THEN 'new'
                                  WHEN 'purchase' THEN 'buyer'
                                  WHEN 'view' THEN 'seg_' || CAST(event_id % 5 AS VARCHAR)
                  END AS segment
           FROM events),
          g AS (SELECT *,
                  SUM(CASE WHEN op IN ('insert','delete') THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY tsu, eid
                          ROWS UNBOUNDED PRECEDING) AS gen
                FROM log),
          lg AS (SELECT *, MAX(gen) OVER (PARTITION BY user_id) AS last_gen FROM g),
          k AS (SELECT *, CAST(tsu AS HUGEINT) * 100000000 + eid AS ord
                FROM lg WHERE gen = last_gen AND last_gen >= 1)
          SELECT user_id,
                 arg_max(balance_c, ord) FILTER (balance_c IS NOT NULL) AS balance_c,
                 arg_max(segment, ord) FILTER (segment IS NOT NULL) AS segment,
                 COUNT(*) AS n_ops, MAX(tsu) AS last_tsu
          FROM k
          GROUP BY user_id
          HAVING MAX(op) FILTER (op IN ('insert','delete')) = 'insert'""",
    // a07: the KMV order statistic is engine-portable — full hash
    // oracle (r16; the r15 HLL lane was rows-only, see the docstring)
    "a07_dau_approx" ->
      s"""WITH uh AS (
            SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS dt, user_id,
                   ${graft.functions.Portable.duckHash60(
                     "concat('kmv:', CAST(user_id AS VARCHAR))")} AS h
            FROM events),
          r AS (
            SELECT dt, h,
                   CAST(row_number() OVER (PARTITION BY dt
                                           ORDER BY h, user_id) AS BIGINT) AS rank
            FROM uh)
          SELECT dt,
                 CASE WHEN MAX(rank) < $KmvK THEN MAX(rank)
                      ELSE CAST(floor(${KmvK - 1}.0 * pow(2.0, 60.0) /
                             CAST(MAX(h) AS DOUBLE)) AS BIGINT) END AS dau_approx
          FROM r WHERE rank <= $KmvK GROUP BY dt""",
    // a14_quantile_sketch: no oracle — the sketch depends on the merge
    // tree (partitioning); QuantileSketchSpec bounds it against the
    // exact twin a13 (rank-error envelope) and asserts the merge laws.
    "a06_salted_agg" ->
      """SELECT p_brand,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100 AS revenue,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "a05_top_brands" ->
      """SELECT p_brand,
                SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100 AS revenue,
                COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand
         ORDER BY revenue DESC, p_brand LIMIT 10""",
    "a08_top_brands_per_type" ->
      """WITH r AS (
           SELECT p_type, p_brand,
                  SUM(ROUND(l_extendedprice * (1 - l_discount) * 100)) / 100 AS revenue
           FROM lineitem JOIN part ON l_partkey = p_partkey
           GROUP BY 1, 2)
         SELECT p_type, p_brand, revenue,
                CAST(row_number() OVER (PARTITION BY p_type ORDER BY revenue DESC, p_brand) AS BIGINT) AS rnk
         FROM r QUALIFY rnk <= 3""",
    "w03_payment_allocation" ->
      """WITH j AS (
           SELECT l_orderkey AS order_id, l_linenumber AS line_id,
                  ROUND(l_extendedprice * 100) AS line_cents,
                  ROUND(o_totalprice * 100) AS total_cents
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ), w AS (
           SELECT *,
                  row_number() OVER (PARTITION BY order_id ORDER BY line_id, line_cents) AS rn,
                  COUNT(*) OVER (PARTITION BY order_id) AS n_lines,
                  SUM(line_cents) OVER (PARTITION BY order_id) AS sum_line_cents
           FROM j
         ), p AS (
           SELECT *, FLOOR(total_cents * line_cents / sum_line_cents) AS prop_cents
           FROM w
         )
         SELECT order_id, line_id,
                line_cents / 100 AS sku_total,
                CASE WHEN rn = n_lines
                     THEN (total_cents - (SUM(prop_cents) OVER (PARTITION BY order_id) - prop_cents)) / 100
                     ELSE prop_cents / 100 END AS final_detail_amount
         FROM p""",
    "w04_window_battery" ->
      """SELECT event_id, user_id,
                CAST(RANK() OVER c AS BIGINT) AS rnk,
                CAST(DENSE_RANK() OVER c AS BIGINT) AS drnk,
                PERCENT_RANK() OVER c AS pr,
                CUME_DIST() OVER c AS cd,
                CAST(NTILE(4) OVER f AS BIGINT) AS tile4,
                LAG(event_id, 1) OVER f AS prev_id,
                LEAD(event_id, 1) OVER f AS next_id
         FROM (SELECT event_id, user_id, ts, CAST(ts AS DATE) AS dt FROM events)
         WINDOW c AS (PARTITION BY user_id ORDER BY dt),
                f AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "f02_zorder_key" -> {
      def spread(e: String) = MortonStages.foldLeft(s"($e & 2097151)") {
        case (x, (sh, m)) => s"(($x | ($x << $sh)) & $m)"
      }
      val day = "CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)"
      s"""SELECT event_id, user_id, $day AS day_idx,
                 (${spread("user_id")} | (${spread(day)} << 1)) AS zkey
          FROM events"""
    },
    "f01_scalar_suite" ->
      """SELECT p_partkey,
                string_split(p_type, ' ')[1] AS type_head,
                concat_ws('|', p_brand, p_name) AS brand_name,
                upper(p_brand) AS brand_upper,
                lower(p_type) AS type_lower,
                substring(p_name, 1, 5) AS name5,
                coalesce(p_type, 'unknown') AS type_nn,
                ROUND(p_retailprice * 110) / 100 AS uplift,
                p_size + 1 AS size_next,
                p_retailprice > 1000 AS is_premium
         FROM part""",
  )
}
