package graft.registry

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Agg, Artifacts, Audio, Curate, Dedup, EventsOps, Graph, Layout, Multimodal, Num, Prune, Sentiment, Sim, Sketch, Skew, Star, Text}
import graft.sources.Sources

import Shared._
import Fragments._
import graft.ops.Present._

/** Relational breadth: set ops, rollup/cube/grouping sets, range/asof
  * joins, window family, subqueries, sketch dedup basics, ANN entry
  * points, event windows, text stats, the prep-pipeline composite.
  *
  * Mechanically split out of SparkEntry.scala (round 10) — every entry
  * is verbatim; SparkEntry composes the parts back into the one map.
  */
private[graft] object Reg2Relational {

  def queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(


    // §2.5 gap — set operations (union / intersect / except): symmetric
    // difference of two keyed subsets.
    "q25_set_ops" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val a = docs.where(col("doc_id") % 2 === 0).select("doc_id")
      val b = docs.where(col("doc_id") % 3 === 0).select("doc_id")
      a.union(b).distinct().except(a.intersect(b)).orderBy("doc_id")
    }),


    // §2.5 gap — bag-semantics set ops (EXCEPT ALL keeps multiplicity).
    "q68_except_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      val a = li.where(col("l_orderkey") % 2 === 0)
      val b = li.where(col("l_orderkey") % 3 === 0)
      a.exceptAll(b)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
        .presentLargeBy("l_orderkey")
    }),


    // §2.5 gap — deterministic array aggregation (sorted collect_set).
    // Surfaced as a joined string: the driver's comparator is pandas-based
    // and cannot sort/hash raw array cells (round-2 q69 comparator crash).
    "q69_collect_agg" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(array_join(sort_array(collect_set(col("lang"))), ",").as("langs"),
          count(lit(1)).as("n"))
        .orderBy("source")),


    // §2.5 gap — rollup with subtotal rows (null grouping keys).
    "q26_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),


    // §2.5 gap — cube over (year, status).
    "q27_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(year(col("o_orderdate")).as("year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("year").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)),


    // §2.5 gap — non-equi range join against a broadcast band table.
    "q28_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq((0.0, 50000.0, "low"), (50000.0, 150000.0, "mid"),
        (150000.0, 1.0e9, "high")).toDF("lo", "hi", "band")
      t(s, dir, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("band")
    }),


    // §2.5 gap — exact interpolated percentiles per group, with
    // AUTOMATIC engine dispatch (Agg.quantilesAuto scaladoc; the
    // q233/q272 pattern): a rows-per-group preflight routes to the
    // percentile() buffer engine (Agg.quantilesByBuffer — one array
    // percentile, O(largest group) memory per task) or the
    // domain-histogram engine (Agg.quantilesByDomain — O(domain)
    // mergeable state; the measured 30.1s-vs-7.2s ×16 bend) —
    // bit-equal either way (EnginePairPropSpec pins the pair). This is
    // the exact variant of the q90 sketch path (percentile_approx =
    // fixed-size KLL-style state). Stabilized with floor(x*100)/100,
    // NOT round(): Spark rounds the shortest decimal repr (BigDecimal
    // HALF_UP) while DuckDB rounds the binary value
    // (std::round(x*100)/100), and interpolating 2dp money at f=0.5
    // produces .xx5 ties where they disagree. floor over identical
    // doubles is bit-deterministic in both engines.
    "q273_quantiles_auto" -> ((s, dir) => {
      val f2 = (c: Column) => floor(c * 100) / 100
      Agg.quantilesAuto(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", Seq("p50" -> 0.5, "p90" -> 0.9))
        .select(col("l_returnflag"), f2(col("p50")).as("p50"),
          f2(col("p90")).as("p90"), col("n"))
        .orderBy("l_returnflag")
    }),


    // north star — document fingerprinting (rolling/content hash).
    "q30_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .presentLargeBy("doc_id")),


    // north star — exact near-dup dedup via content fingerprint.
    "q31_fingerprint_dedup" -> ((s, dir) =>
      Dedup.keepFirst(
          t(s, dir, "documents")
            .withColumn("fp", Text.fingerprint(col("text"))),
          Seq("fp"), Seq(col("doc_id").asc))
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),


    // north star — MinHash+LSH near-dup candidate pairs.
    "q32_minhash_pairs" -> ((s, dir) => {
      val bp = Dedup.planBands(threshold = 0.8, targetRecall = 0.98)
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
          k = bp.k, bands = bp.bands)
        .orderBy("id_a", "id_b")
    }),


    // north star — exact n-gram Jaccard (bounded subset; at scale this runs
    // after LSH bucketing, see Dedup scaladoc).
    "q33_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(
          t(s, dir, "documents").where(col("doc_id") < 200),
          "doc_id", "text", w = 3, minJaccard = 0.1)
        .orderBy("id_a", "id_b")),


    // north star — SimHash signatures (native single-pass expression).
    "q34_simhash" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("t", Text.cleanTokens(col("text")))
        .select(col("doc_id"), Dedup.simhash16Native(col("t")).as("simhash"))
        .presentLargeBy("doc_id")),


    // north star — SimHash near-dup pairs via nibble banding + exact
    // hamming filter (no all-pairs materialization).
    "q35_simhash_dups" -> ((s, dir) =>
      Dedup.simhashDupPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b")),


    // north star — 60-bit SimHash near-dup pairs: the corpus-scale variant
    // of q35 (32768 LSH buckets per band instead of 16 — sub-quadratic
    // pair fan-in on large corpora, same exact hamming<=3 recall).
    "q55_simhash60_dups" -> ((s, dir) =>
      Dedup.simhashDupPairs60(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b")),


    // scale path — salted two-phase aggregation for hot keys: partial sums
    // in DECIMAL(18,2) so the re-reduce over salt sub-keys is exact and
    // bit-identical to the unsalted oracle.
    "q36_skew_salted_agg" -> ((s, dir) =>
      Skew.saltedMoneySum(t(s, dir, "events"), Seq("event_type"), "value")
        .orderBy("event_type")),


    // §2.5 gap — left-semi join (existence filter without row duplication).
    "q37_semi_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val big = t(s, dir, "orders").where(col("o_totalprice") > 200000)
      cust.join(big, cust("c_custkey") === big("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),


    // §2.5 gap — full outer join of two aggregates (null-preserving).
    "q38_outer_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("year"))
        .agg(count(lit(1)).as("n_orders"))
      val l = t(s, dir, "lineitem")
        .groupBy(year(col("l_shipdate")).as("year"))
        .agg(count(lit(1)).as("n_ship"))
      o.join(l, Seq("year"), "full_outer")
        .orderBy(col("year").asc_nulls_first)
    }),


    // §2.5 gap — distinct aggregate (expands to a two-phase de-dup agg).
    "q39_count_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(count_distinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")),


    // north star — brute-force top-k cosine (broadcast query set).
    "q40_topk_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sim.topK(emb.where(col("vec_id") < 10), emb, 5)
        .orderBy("q_id", "rk")
    }),


    // north star — IVF-bucketed top-k cosine (scale path).
    "q41_topk_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sim.topKIvf(emb.where(col("vec_id") < 10), emb, 5, "label")
        .orderBy("q_id", "rk")
    }),


    // north star — sign-LSH bucketed top-k cosine (data-independent scale
    // path). The hyperplanes are md5-derived (Sim.hyperplanes), so the
    // oracle rebuilds the exact buckets in SQL — approximate recall, but a
    // deterministic, fully hash-checkable result.
    "q43_topk_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Sim.topKLsh(emb.where(col("vec_id") < 10), emb, 5, bits = 4)
        .orderBy("q_id", "rk")
    }),


    // north star — embedding-cosine near-dup pairs within cells.
    "q42_near_dup_cosine" -> ((s, dir) =>
      Sim.nearDupPairs(t(s, dir, "embeddings"), 0.2, "label")
        .presentLargeBy("id_a", "id_b")),


    // north star — text statistics (token counts, quality, lang-id).
    // the token array is materialized once; every stat scans the attribute
    "q50_text_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("t", Text.tokens(col("text")))
        .select(
          col("doc_id"),
          Text.tokenCount(col("t")).as("n_tokens"),
          Text.tokenEstimate(col("t")).as("n_tokens_est"),
          Text.stopwordCount(col("t")).as("n_stopwords"),
          Text.qualityScore(col("text"), col("t")).as("quality"),
          Text.langIdHeuristic(col("text"), col("t")).as("lang_id"))
        .presentLargeBy("doc_id")),


    // north star — language-ID breakdown.
    "q51_lang_breakdown" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("t", Text.tokens(col("text")))
        .groupBy(Text.langIdHeuristic(col("text"), col("t")).as("lang_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_id")),


    // north star — corpus-level top-k n-grams (bigram frequency).
    "q52_ngram_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(Text.cleanTokens(col("text")).as("t"))
        .select(explode(Dedup.shingles(col("t"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)),


    // north star — TF-IDF top terms per document (smoothed idf).
    "q53_tfidf" -> ((s, dir) =>
      Text.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rk"))
        .presentLargeBy("doc_id", "rk")),


    // north star — tumbling-window counts (batch form of streaming agg).
    "q60_tumbling_counts" -> ((s, dir) =>
      EventsOps.tumblingCounts(t(s, dir, "events"), 3600)
        .presentBy("window_start", "event_type")),


    // north star — sliding-window counts.
    "q61_sliding_counts" -> ((s, dir) =>
      EventsOps.slidingCounts(t(s, dir, "events"), 7200, 3600)
        .orderBy("window_start", "event_type")),


    // north star — gap-based sessionization.
    "q62_sessionize" -> ((s, dir) =>
      EventsOps.sessionize(t(s, dir, "events"), 1800)
        .presentLargeBy("user_id", "session_id")),


    // north star — as-of join (purchase ← most recent click per user).
    "q63_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      EventsOps.asOfJoin(
          ev.where(col("event_type") === "purchase"),
          ev.where(col("event_type") === "click"))
        .presentLargeBy("user_id", "event_id")
    }),


    // north star — as-of join with staleness tolerance (feature join with
    // a max-lookback bound: stale features become NULL, never silently
    // used).
    "q79_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      EventsOps.asOfJoinTolerance(
          ev.where(col("event_type") === "purchase"),
          ev.where(col("event_type") === "click"), tolSeconds = 900)
        .orderBy("user_id", "event_id")
    }),


    // north star — JSON property extraction.
    "q64_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          EventsOps.jsonProp(col("props"), "k").as("k"))
        .presentLargeBy("event_id")),


    // §2.5 gap — explicit GROUPING SETS (rollup/cube generalization).
    "q65_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .presentByCols(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),


    // §2.5 gap — lag + moving-frame aggregates per user (ordered stream).
    "q66_moving_stats" -> ((s, dir) =>
      EventsOps.movingStats(t(s, dir, "events"))
        .presentLargeBy("user_id", "rn")),


    // north star — built-in session_window sessionization (the operator
    // Structured Streaming shares; q62 is the window-function formulation).
    "q67_session_window" -> ((s, dir) =>
      EventsOps.sessionWindows(t(s, dir, "events"), 1800)
        .presentLargeBy("user_id", "session_start")),


    // §2.5 gap — ranking-function family beyond row_number: dense_rank,
    // percent_rank, ntile, cume_dist over one shared window sort.
    "q73_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .where(col("o_orderkey") % 10 === 0)
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
          dense_rank().over(w).as("drk"),
          Num.floorAt(percent_rank().over(w), 6).as("prk"),
          ntile(4).over(w).as("quartile"),
          Num.floorAt(cume_dist().over(w), 6).as("cd"),
          row_number().over(w).as("rn"))
        .presentLargeBy("o_orderstatus", "rn")
    }),


    // north star — reproducible train/eval split: the split is a pure
    // function of the row key (md5), so it's stable across runs, engines,
    // repartitioning, and incremental loads — never rand()-based.
    "q74_hash_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("split",
          when(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("int") % 10 < 8, "train").otherwise("eval"))
        .groupBy("split", "lang").agg(count(lit(1)).as("n"))
        .orderBy("split", "lang")),


    // north star — token-length histogram (corpus profiling).
    "q75_token_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("t", Text.tokens(col("text")))
        .groupBy((floor(size(col("t")) / 10) * 10).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),


    // north star — deterministic uniform sample (hash-ordered top-N): same
    // rows every run on every engine, unlike sample()/rand().
    "q76_det_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
        .limit(100)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),


    // north star — one-pass column profile (completeness/cardinality/range)
    // — the data-quality gate a pipeline runs before training ingestion.
    "q77_profile" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_custkey").isNull.cast("long")).as("null_custkey"),
        count_distinct(col("o_orderstatus")).as("n_statuses"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        dsum(col("o_totalprice")).as("sum_price"))),


    // north star FLAGSHIP composite — the full training-data prep pipeline
    // in one query: quality gate → repetition gate (Gopher top-bigram
    // share, see q109) → model-based gate (q134's hashed-n-gram
    // classifier, the DCLM ordering) → exact (fingerprint) dedup →
    // MinHash near-dup removal → reproducible hash split → corpus summary.
    // Near-dup rule: drop every doc that has a SMALLER near-dup neighbor
    // (est_jaccard >= 0.5) — deterministic and join-expressible, no
    // connected-components pass (the standard large-corpus approximation).
    "q78_prep_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val quality = docs.withColumn("t", Text.tokens(col("text")))
        .where(Text.qualityScore(col("text"), col("t")) >= 0.1)
        .select("doc_id", "text", "n_chars")
      // repetition losers computed from the RAW scan, not from `quality`:
      // the metric is per-doc (quality-independent), and referencing the
      // quality subtree here would re-run its tokenize+filter once per
      // branch (Catalyst re-executes shared subtrees). A loser that
      // already failed the quality gate anti-joins to nothing — harmless.
      val repetitive = docs
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          explode(Dedup.shingles(col("t"), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
        .where(Num.floorAt(col("mx").cast("double") / col("tot"), 4) > 0.2)
        .select("doc_id")
      // model-based gate (q134's hashed-n-gram classifier) after the rule
      // gates — the DCLM ordering. Same raw-scan-not-quality-subtree
      // reasoning as `repetitive` above; 0.484 ≈ the corpus' lower decile.
      val lowScore = Curate.ngramQualityScore(docs, "doc_id", "text")
        .where(col("quality_score") < 0.484).select("doc_id")
      val gated = quality.join(repetitive, Seq("doc_id"), "left_anti")
        .join(lowScore, Seq("doc_id"), "left_anti")
      // the survivor set feeds THREE consumers (minhash signatures, the
      // anti-join left side, and transitively the split/summary);
      // localCheckpoint materializes the gate+dedup work once instead of
      // re-running the scan+tokenize+window per consumer (q92/q111
      // precedent — the checkpoint is corpus-survivors-sized, not raw)
      val exact = Dedup.keepFirst(
          gated.withColumn("fp", Text.fingerprint(col("text"))),
          Seq("fp"), Seq(col("doc_id").asc))
        .select("doc_id", "text", "n_chars")
        .localCheckpoint()
      val nearDupLosers = Dedup
        .minhashPairs(exact, "doc_id", "text", k = 8, bands = 4)
        .where(col("est_jaccard") >= 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      exact.join(nearDupLosers, Seq("doc_id"), "left_anti")
        .withColumn("split",
          when(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("int") % 10 < 8, "train").otherwise("eval"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
        .orderBy("split")
    }),


    // north star — multimodal decode with a REAL pure-JVM codec: every
    // payload is a spec-valid P6 PPM built deterministically from doc_id
    // (the corpus ships no image files), parsed by the real header+raster
    // decoder, and measured per pixel; the oracle replays the closed-form
    // pixel rule. JPEG/PNG stay behind the labeled stub (q71/q72) — the
    // container has no codec libs.
    "q70_media_features" -> ((s, dir) => {
      val media = Multimodal.ppmMediaFromDocuments(t(s, dir, "documents"))
      Multimodal.decodeImages(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"), col("n_pixels"),
          col("mean_r"), col("mean_g"), col("mean_b"))
        .presentLargeBy("media_id")
    }),


    // north star — multimodal frame sampling (1 row → n frames flatMap;
    // payload is ASCII text bytes, so frame fingerprints are
    // oracle-expressible as substring+md5).
    "q71_media_frames" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      Multimodal.frameSample(media, frameBytes = 256, everyNth = 2).toDF()
        .presentLargeBy("media_id", "frame_idx")
    }),


    // north star — multimodal resize plumbing (payload re-encoded at the
    // target geometry; fingerprint compared, not the raw bytes).
    "q72_media_resize" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(
        t(s, dir, "documents").where(length(col("text")) > 0))
      Multimodal.resize(media, 64, 64).toDF()
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          md5(col("payload")).as("payload_md5"))
        .presentLargeBy("media_id")
    }),


    // §2.5 gap — lateral explode with position (LATERAL VIEW / UNNEST WITH
    // ORDINALITY shape): first 3 tokens of each document, flattened.
    "q80_posexplode_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("t", Text.tokens(col("text")))
        .select(col("doc_id"), posexplode(slice(col("t"), 1, 3)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("tok"))
        .presentLargeBy("doc_id", "pos")),


    // §2.5 gap — correlated EXISTS / NOT EXISTS subqueries (Catalyst
    // decorrelates both into one semi and one anti hash join).
    "q81_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v81_customer")
      t(s, dir, "orders").createOrReplaceTempView("v81_orders")
      s.sql("""
        SELECT c_custkey, c_name FROM v81_customer c
        WHERE EXISTS (SELECT 1 FROM v81_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
          AND NOT EXISTS (SELECT 1 FROM v81_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'P')
        ORDER BY c_custkey""")
    }),


    // §2.5 gap — uncorrelated scalar subquery (planned as a one-row
    // subquery broadcast into the filter; threshold is 0.5 * MAX, which is
    // exact in binary floating point, so the comparison is stable
    // cross-engine).
    "q82_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v82_orders")
      s.sql("""
        SELECT o_orderkey, o_totalprice FROM v82_orders
        WHERE o_totalprice > 0.5 * (SELECT MAX(o_totalprice) FROM v82_orders)
        ORDER BY o_orderkey""")
    }),


    // §2.5 gap — time-RANGE window frame (value-bounded, not row-bounded):
    // trailing 10-minute per-user moving sum.
    "q83_range_frame" -> ((s, dir) =>
      EventsOps.rangeMovingSum(t(s, dir, "events"), 600)
        .presentLargeBy("user_id", "event_id")),


    // §2.5 gap — lead/lag inter-event features (dwell time, previous
    // action) over one per-user window sort.
    "q84_lead_lag_gaps" -> ((s, dir) =>
      EventsOps.eventGaps(t(s, dir, "events"))
        .presentLargeBy("user_id", "event_id")),


    // §2.5 gap — first_value/last_value over an unbounded frame, collapsed
    // to a per-user journey summary.
    "q85_first_last" -> ((s, dir) =>
      EventsOps.firstLast(t(s, dir, "events")).orderBy("user_id")),


    // §2.5 gap — union-by-name with missing columns (schema-evolution
    // append: the open-orders branch lacks o_totalprice → null-filled).
    "q86_union_by_name" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val fin = o.where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"),
          lit("fin").as("src"))
      val open = o.where(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), lit("open").as("src"))
      fin.unionByName(open, allowMissingColumns = true)
        .presentLargeBy("o_orderkey", "src")
    }),


    // §2.5 gap — MapType aggregate: per-user event_type→count map,
    // surfaced as canonical JSON for the comparator.
    "q87_map_counts" -> ((s, dir) =>
      Agg.mapCounts(t(s, dir, "events"), "user_id", "event_type")
        .orderBy("user_id")),


    // data management — SCD type-2 dimension history: versioned
    // [valid_from, valid_to) rows per run of equal user state.
    "q88_scd2_intervals" -> ((s, dir) =>
      EventsOps.scd2Intervals(t(s, dir, "events"))
        .presentLargeBy("user_id", "run_id")),


    // data management — referential-integrity audit via broadcast anti
    // joins reduced to orphan counts (the pre-load FK gate).
    "q89_integrity_orphans" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      Star.orphanCount(orders, "o_custkey",
          t(s, dir, "customer"), "c_custkey", "orphan_orders")
        .crossJoin(Star.orphanCount(t(s, dir, "lineitem"), "l_orderkey",
          orders, "o_orderkey", "orphan_lineitems"))
    }),


    // sketch surface — HLL++ distinct + KLL-style quantile per group. No
    // oracleSql on purpose: approx answers are estimator-specific, so the
    // driver records the weaker rows-only check (SketchSpec pins the
    // estimates against exact values within rsd bounds, and
    // q108_exact_profile is the oracle-checked exact twin of this exact
    // grouping — see README "Driver contract" for the rows-only set).
    "q90_approx_profile" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000))
            .as("p50_value"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),


    // data management — deterministic stratified sample (20 docs per lang
    // by md5 rank; reproducible, unlike seed-dependent sampleBy).
    "q91_stratified_sample" -> ((s, dir) =>
      Agg.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),


    // north star — near-dup CLUSTER assignment: MinHash pair graph →
    // bounded-round min-id label propagation (the corpus dup-clustering
    // step that follows pair generation; 2 rounds = ids within 2 hops).
    "q92_dup_clusters" -> ((s, dir) =>
      Dedup.minLabelPropagate(
          Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text",
              k = 8, bands = 4)
            .where(col("est_jaccard") >= 0.5),
          rounds = 2)
        .orderBy("doc_id")),


    // north star — BM25 top-k terms per doc (the retrieval-grade scoring
    // TF-IDF approximates; exact-binary-fraction constants, see
    // Text.bm25TopK).
    "q93_bm25" -> ((s, dir) =>
      Text.bm25TopK(t(s, dir, "documents"), "doc_id", "text", 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          col("dl"), col("score"), col("rk"))
        .presentLargeBy("doc_id", "rk")),


    // north star — time-series gap fill + forward fill (dense hourly
    // per-user series generated from sparse events).
    "q94_gap_fill" -> ((s, dir) =>
      EventsOps.gapFillForwardFill(t(s, dir, "events"), 3600)
        .presentLargeBy("user_id", "bucket")),


    // §2.5 gap — share-of-total window ratios (per-source language mix).
    "q95_share_of_total" -> ((s, dir) =>
      Agg.shareOfTotal(t(s, dir, "documents"), "source", "lang")
        .orderBy("source", "rk")),


    // §2.5 gap — multi-match regex extraction (regexp_extract_all).
    "q96_extract_all" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit("[a-z]+er\\b"), lit(0))
            .as("m"))
        .select(col("doc_id"), size(col("m")).as("n_matches"),
          array_join(col("m"), ",").as("matches"))
        .presentLargeBy("doc_id")),


    // north star — blocked fuzzy matching over the distinct name
    // vocabulary (entity-resolution shape: block on first token, exact
    // levenshtein within blocks only).
    "q97_fuzzy_pairs" -> ((s, dir) =>
      Dedup.fuzzyPairs(
          t(s, dir, "part").select(col("p_name").as("name")).distinct(),
          "name", "name", maxDist = 3)
        .orderBy("id_a", "id_b")),


    // §2.5 gap — exact-decimal variance/stddev (order-insensitive power
    // sums; builtin var_samp is accumulation-order-dependent and
    // cross-engine-divergent, see Agg.exactMoments).
    "q98_exact_variance" -> ((s, dir) =>
      Agg.exactMoments(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice")
        .orderBy("l_returnflag")),


    // §2.5 gap — exact-decimal Pearson correlation per group.
    "q99_exact_corr" -> ((s, dir) =>
      Agg.exactCorr(t(s, dir, "lineitem"), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .presentBy("l_returnflag"))
  )

  private val quantilesOracleSql: String =
    """SELECT l_returnflag,
      | floor(quantile_cont(l_extendedprice, 0.5) * 100) / 100 AS p50,
      | floor(quantile_cont(l_extendedprice, 0.9) * 100) / 100 AS p90,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def oracles: ListMap[String, String] = ListMap(


      "q25_set_ops" ->
        """WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
          |b AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
          |SELECT doc_id FROM (
          |  (SELECT doc_id FROM a UNION SELECT doc_id FROM b)
          |  EXCEPT
          |  (SELECT doc_id FROM a INTERSECT SELECT doc_id FROM b))
          |ORDER BY doc_id""".stripMargin,


      "q68_except_all" ->
        """WITH a AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey % 2 = 0),
          |b AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey % 3 = 0)
          |SELECT l_orderkey, COUNT(*) AS n FROM
          |  (SELECT l_orderkey FROM a EXCEPT ALL SELECT l_orderkey FROM b)
          |GROUP BY 1 ORDER BY 1""".stripMargin,


      "q69_collect_agg" ->
        """SELECT source,
          | array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs,
          | COUNT(*) AS n
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,


      "q26_rollup" ->
        s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           | ${dsumS("l_extendedprice")} AS total
           |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
           |ORDER BY l_returnflag ASC NULLS FIRST,
           | l_linestatus ASC NULLS FIRST""".stripMargin,


      "q27_cube" ->
        """SELECT year, o_orderstatus, COUNT(*) AS n FROM
          | (SELECT CAST(year(o_orderdate) AS INTEGER) AS year, o_orderstatus
          |  FROM orders)
          |GROUP BY CUBE (year, o_orderstatus)
          |ORDER BY year ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,


      "q28_range_join" ->
        s"""WITH bands(lo, hi, band) AS (VALUES
           | (0.0, 50000.0, 'low'), (50000.0, 150000.0, 'mid'),
           | (150000.0, 1000000000.0, 'high'))
           |SELECT band, COUNT(*) AS n, ${dsumS("o_totalprice")} AS total
           |FROM orders JOIN bands
           |  ON o_totalprice >= lo AND o_totalprice < hi
           |GROUP BY band ORDER BY band""".stripMargin,


      "q273_quantiles_auto" -> quantilesOracleSql,


      "q30_fingerprint" ->
        s"SELECT doc_id, md5($clean) AS fp FROM documents ORDER BY doc_id",


      "q31_fingerprint_dedup" ->
        s"""WITH fp AS (SELECT doc_id, lang, md5($clean) AS fp FROM documents),
           |dedup AS (SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang,
           |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
           |  FROM fp) WHERE rn = 1)
           |SELECT lang, COUNT(*) AS n FROM dedup GROUP BY lang ORDER BY lang""".stripMargin,


      "q32_minhash_pairs" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents),
           |sh AS (SELECT id, ${shinglesSql("t")} AS shs
           |       FROM (SELECT id, $cleanToks AS t FROM cleaned)),
           |sig AS (SELECT id,
           |  list_transform(range(0, 8), s ->
           |    COALESCE(list_min(list_transform(shs, x -> md5(CAST(s AS VARCHAR) || ':' || x))), '~empty')) AS sig
           |  FROM sh WHERE len(shs) > 0),
           |banded AS (
           |  SELECT id, sig, CAST(b.i AS INTEGER) AS band,
           |         md5(sig[CAST(b.i*2+1 AS INTEGER)] || '|' || sig[CAST(b.i*2+2 AS INTEGER)]) AS bkey
           |  FROM sig CROSS JOIN range(0, 4) AS b(i))
           |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |  CAST(len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8 AS est_jaccard
           |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
           |WHERE a.id < b.id
           |ORDER BY id_a, id_b""".stripMargin,


      "q33_jaccard_pairs" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents WHERE doc_id < 200),
           |tok AS (SELECT id, $cleanToks AS t FROM cleaned),
           |sh AS (SELECT id, UNNEST(list_distinct(${shinglesSql("t")})) AS sh FROM tok),
           |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
           |common AS (
           |  SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS c
           |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.id < y.id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  ${Num.floorAtSql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} AS jaccard
           |FROM common
           |JOIN sizes na ON na.id = id_a
           |JOIN sizes nb ON nb.id = id_b
           |WHERE ${Num.floorAtSql("CAST(c AS DOUBLE) / (na.n + nb.n - c)", 4)} >= 0.1
           |ORDER BY id_a, id_b""".stripMargin,


      "q34_simhash" ->
        s"""WITH tok AS (SELECT doc_id, $cleanToks AS t
           |             FROM (SELECT doc_id, $clean AS c FROM documents)),
           |hashed AS (SELECT doc_id,
           |  list_transform(t, tk ->
           |    (strpos('0123456789abcdef', substring(md5(tk), 1, 1)) - 1) * 4096 +
           |    (strpos('0123456789abcdef', substring(md5(tk), 2, 1)) - 1) * 256 +
           |    (strpos('0123456789abcdef', substring(md5(tk), 3, 1)) - 1) * 16 +
           |    (strpos('0123456789abcdef', substring(md5(tk), 4, 1)) - 1)) AS hs
           |  FROM tok)
           |SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), b ->
           |  CASE WHEN COALESCE(list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)), 0) > 0
           |       THEN (1 << b) ELSE 0 END)) AS INTEGER) AS simhash
           |FROM hashed ORDER BY doc_id""".stripMargin,


      "q35_simhash_dups" ->
        s"""WITH tok AS (SELECT doc_id, $cleanToks AS t
           |             FROM (SELECT doc_id, $clean AS c FROM documents)),
           |hashed AS (SELECT doc_id,
           |  list_transform(t, tk -> ${md5Hex4Sql("tk")}) AS hs
           |  FROM tok),
           |sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), b ->
           |  CASE WHEN COALESCE(list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)), 0) > 0
           |       THEN (1 << b) ELSE 0 END)) AS INTEGER) AS sh
           |  FROM hashed),
           |banded AS (SELECT doc_id AS id, sh, CAST(b.i AS INTEGER) AS band,
           |  (sh >> (CAST(b.i AS INTEGER) * 4)) & 15 AS nib
           |  FROM sim CROSS JOIN range(0, 4) b(i)),
           |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.nib = b.nib AND a.id < b.id)
           |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
           |ORDER BY id_a, id_b""".stripMargin,


      "q55_simhash60_dups" ->
        s"""WITH tok AS (SELECT doc_id, $cleanToks AS t
           |             FROM (SELECT doc_id, $clean AS c FROM documents)),
           |hashed AS (SELECT doc_id,
           |  list_transform(t, tk -> ${md5HexNSql("tk", 15)}) AS hs
           |  FROM tok),
           |sim AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
           |  CASE WHEN COALESCE(list_sum(list_transform(hs, h -> ((h >> b) & 1) * 2 - 1)), 0) > 0
           |       THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sh
           |  FROM hashed),
           |banded AS (SELECT doc_id AS id, sh, CAST(b.i AS INTEGER) AS band,
           |  (sh >> (CAST(b.i AS INTEGER) * 15)) & 32767 AS nib
           |  FROM sim CROSS JOIN range(0, 4) b(i)),
           |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.nib = b.nib AND a.id < b.id)
           |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
           |ORDER BY id_a, id_b""".stripMargin,


      "q36_skew_salted_agg" ->
        s"""SELECT event_type, ${dsumS("value")} AS total, COUNT(*) AS n
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,


      "q37_semi_join" ->
        """SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer
          |WHERE EXISTS (SELECT 1 FROM orders
          |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,


      "q38_outer_join" ->
        """WITH o AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
          |                  COUNT(*) AS n_orders FROM orders GROUP BY 1),
          |l AS (SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
          |             COUNT(*) AS n_ship FROM lineitem GROUP BY 1)
          |SELECT COALESCE(o.year, l.year) AS year, n_orders, n_ship
          |FROM o FULL JOIN l ON o.year = l.year
          |ORDER BY year ASC NULLS FIRST""".stripMargin,


      "q39_count_distinct" ->
        """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs,
          | COUNT(*) AS n_orders
          |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,


      "q40_topk_cosine" -> topkCosineSql,


      "q41_topk_ivf" -> topkIvfSql,


      "q43_topk_lsh" -> topkLshSql,


      "q42_near_dup_cosine" ->
        """WITH a AS (SELECT label AS cell, vec_id AS id_a, embedding AS va FROM embeddings),
          |b AS (SELECT label AS cell, vec_id AS id_b, embedding AS vb FROM embeddings),
          |scored AS (
          |  SELECT id_a, id_b,
          |    floor((
          |      list_sum(list_transform(range(1, len(va)+1), i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))
          |      / (sqrt(list_sum(list_transform(range(1, len(va)+1), i -> CAST(va[i] AS DOUBLE) * CAST(va[i] AS DOUBLE))))
          |       * sqrt(list_sum(list_transform(range(1, len(vb)+1), i -> CAST(vb[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
          |  FROM a JOIN b USING (cell) WHERE id_a < id_b)
          |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.2
          |ORDER BY id_a, id_b""".stripMargin,


      "q50_text_stats" ->
        s"""WITH base AS (SELECT doc_id, text, $toks AS t FROM documents),
           |stats AS (SELECT doc_id, text,
           |  CAST(len(t) AS INTEGER) AS n_tokens,
           |  CAST(len(t) + COALESCE(list_sum(list_transform(t, w ->
           |    CASE WHEN length(w) > 8 THEN (length(w) - 1) // 4 ELSE 0 END)), 0) AS INTEGER) AS n_tokens_est,
           |  CAST(len(list_filter(t, x -> x IN ('the','a','of','to','and','in','is'))) AS INTEGER) AS n_stopwords
           |  FROM base)
           |SELECT doc_id, n_tokens, n_tokens_est, n_stopwords,
           |  floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           |    * (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
           |       / CAST(greatest(length(text), 1) AS DOUBLE))
           |    * (1.0 - least(CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_tokens AS DOUBLE), 1.0), 1.0))) * 10000) / 10000 AS quality,
           |  CASE WHEN n_tokens = 0 THEN 'und'
           |       WHEN CAST(n_stopwords AS DOUBLE) / n_tokens > 0.05 THEN 'en'
           |       WHEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           |            / greatest(length(text), 1) > 0.7 THEN 'latin'
           |       ELSE 'other' END AS lang_id
           |FROM stats ORDER BY doc_id""".stripMargin,


      "q51_lang_breakdown" ->
        s"""WITH base AS (SELECT text, $toks AS t FROM documents),
           |stats AS (SELECT text, len(t) AS n_tokens,
           |  len(list_filter(t, x -> x IN ('the','a','of','to','and','in','is'))) AS n_stopwords
           |  FROM base)
           |SELECT CASE WHEN n_tokens = 0 THEN 'und'
           |       WHEN CAST(n_stopwords AS DOUBLE) / n_tokens > 0.05 THEN 'en'
           |       WHEN CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
           |            / greatest(length(text), 1) > 0.7 THEN 'latin'
           |       ELSE 'other' END AS lang_id, COUNT(*) AS n
           |FROM stats GROUP BY lang_id ORDER BY lang_id""".stripMargin,


      "q52_ngram_topk" ->
        s"""WITH tok AS (SELECT $cleanToks AS t
           |             FROM (SELECT $clean AS c FROM documents)),
           |grams AS (SELECT UNNEST(${shinglesSql("t", 2)}) AS bigram FROM tok)
           |SELECT bigram, COUNT(*) AS n FROM grams GROUP BY bigram
           |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,


      "q53_tfidf" ->
        s"""WITH terms AS (SELECT id, UNNEST($cleanToks) AS term
           |  FROM (SELECT doc_id AS id, $clean AS c FROM documents)),
           |tf AS (SELECT id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
           |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |scored AS (SELECT id, term, tf, df,
           |  floor((tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1))) * 10000) / 10000 AS tfidf
           |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
           |ranked AS (SELECT id, term, tf, df, tfidf,
           |  row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rk
           |  FROM scored)
           |SELECT id AS doc_id, term, tf, df, tfidf, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,


      // ONE string with the streaming twin q235 (Fragments scaladoc)
      "q60_tumbling_counts" -> tumblingCountsSql,


      "q61_sliding_counts" -> slidingCountsSql,


      "q62_sessionize" ->
        s"""WITH es AS (SELECT user_id, event_id, ${epochSql("ts")} AS es FROM events),
           |flagged AS (SELECT user_id, event_id, es,
           |  CASE WHEN es - lag(es, 1) OVER w > 1800 THEN 1
           |       WHEN lag(es, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
           |  FROM es WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
           |sessions AS (SELECT user_id, event_id, es,
           |  CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           |  FROM flagged)
           |SELECT user_id, session_id, MIN(es) AS session_start,
           |  MAX(es) AS session_end, COUNT(*) AS n_events
           |FROM sessions GROUP BY user_id, session_id
           |ORDER BY user_id, session_id""".stripMargin,


      "q63_asof_join" ->
        s"""WITH l AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |                  1 AS is_left, CAST(NULL AS BIGINT) AS r_id
           |           FROM events WHERE event_type = 'purchase'),
           |r AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             0 AS is_left, event_id AS r_id
           |      FROM events WHERE event_type = 'click'),
           |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
           |m AS (SELECT *,
           |  last_value(r_id IGNORE NULLS) OVER (PARTITION BY user_id
           |    ORDER BY es, is_left, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_event_id
           |  FROM u)
           |SELECT user_id, event_id, es, matched_event_id FROM m
           |WHERE is_left = 1 ORDER BY user_id, event_id""".stripMargin,


      "q79_asof_tolerance" ->
        s"""WITH l AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |                  1 AS is_left
           |           FROM events WHERE event_type = 'purchase'),
           |r AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             0 AS is_left
           |      FROM events WHERE event_type = 'click'),
           |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
           |m AS (SELECT *,
           |  last_value(CASE WHEN is_left = 0
           |                  THEN struct_pack(r_es := es, r_id := event_id)
           |             END IGNORE NULLS) OVER (PARTITION BY user_id
           |    ORDER BY es, is_left, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
           |  FROM u)
           |SELECT user_id, event_id, es,
           |  CASE WHEN es - mm.r_es <= 900 THEN mm.r_id END AS matched_event_id
           |FROM m WHERE is_left = 1 ORDER BY user_id, event_id""".stripMargin,


      "q64_json_extract" ->
        """SELECT event_id,
          | CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
          |FROM events ORDER BY event_id""".stripMargin,


      "q65_grouping_sets" ->
        s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           | ${dsumS("l_extendedprice")} AS total
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
           |ORDER BY l_returnflag ASC NULLS FIRST,
           | l_linestatus ASC NULLS FIRST""".stripMargin,


      "q66_moving_stats" ->
        s"""WITH ev AS (SELECT user_id, event_id, ${epochSql("ts")} AS es, value
           |            FROM events)
           |SELECT user_id, event_id, es, value,
           |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev_value,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
           |    ORDER BY es, event_id
           |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mv_sum,
           |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY es, event_id) AS INTEGER) AS rn
           |FROM ev ORDER BY user_id, rn""".stripMargin,


      // ONE string with the streaming twin q236 (Fragments scaladoc)
      "q67_session_window" -> sessionWindowSql,


      "q73_rank_family" ->
        s"""SELECT o_orderstatus, o_orderkey, o_totalprice,
           |  CAST(dense_rank() OVER w AS INTEGER) AS drk,
           |  ${Num.floorAtSql("percent_rank() OVER w", 6)} AS prk,
           |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           |  ${Num.floorAtSql("cume_dist() OVER w", 6)} AS cd,
           |  CAST(row_number() OVER w AS INTEGER) AS rn
           |FROM orders WHERE o_orderkey % 10 = 0
           |WINDOW w AS (PARTITION BY o_orderstatus
           |             ORDER BY o_totalprice DESC, o_orderkey ASC)
           |ORDER BY o_orderstatus, rn""".stripMargin,


      "q74_hash_split" ->
        s"""SELECT CASE WHEN ${md5Hex4Sql("CAST(doc_id AS VARCHAR)")} % 10 < 8
           |            THEN 'train' ELSE 'eval' END AS split,
           |       lang, COUNT(*) AS n
           |FROM documents GROUP BY split, lang ORDER BY split, lang""".stripMargin,


      "q75_token_histogram" ->
        s"""WITH tok AS (SELECT ${toksSql("text")} AS t FROM documents)
           |SELECT CAST(floor(len(t) / 10) * 10 AS INTEGER) AS bucket,
           |       COUNT(*) AS n
           |FROM tok GROUP BY bucket ORDER BY bucket""".stripMargin,


      "q76_det_sample" ->
        """SELECT doc_id, lang, source FROM (
          |  SELECT doc_id, lang, source FROM documents
          |  ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC LIMIT 100)
          |ORDER BY doc_id""".stripMargin,


      "q77_profile" ->
        s"""SELECT COUNT(*) AS n_rows,
           | CAST(SUM(CAST(o_custkey IS NULL AS BIGINT)) AS BIGINT) AS null_custkey,
           | COUNT(DISTINCT o_orderstatus) AS n_statuses,
           | MIN(o_totalprice) AS min_price,
           | MAX(o_totalprice) AS max_price,
           | ${dsumS("o_totalprice")} AS sum_price
           |FROM orders""".stripMargin,


      "q78_prep_pipeline" ->
        s"""WITH toks0 AS (SELECT doc_id, text, n_chars, ${toksSql("text")} AS t
           |               FROM documents),
           |quality AS (SELECT doc_id, text, n_chars, t FROM toks0 WHERE
           |  floor((least(CAST(len(t) AS DOUBLE) / 100.0, 1.0)
           |    * (CAST(length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) AS DOUBLE)
           |       / CAST(greatest(length(text), 1) AS DOUBLE))
           |    * (1.0 - least(CAST(len(list_filter(t, x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
           |             / greatest(CAST(len(t) AS DOUBLE), 1.0), 1.0))) * 10000) / 10000 >= 0.1),
           |bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM (
           |  SELECT doc_id, UNNEST(${shinglesSql("t", 2)}) AS bg
           |  FROM quality) GROUP BY doc_id, bg),
           |repbad AS (SELECT doc_id FROM bgc GROUP BY doc_id
           |  HAVING floor(CAST(MAX(c) AS DOUBLE) / SUM(c) * 10000) / 10000 > 0.2),
           |qg AS (SELECT doc_id,
           |    UNNEST(list_concat(t, ${shinglesSql("t", 2)})) AS g
           |  FROM (SELECT doc_id, ${toksSql("c2")} AS t
           |        FROM (SELECT doc_id, ${cleanSql("text")} AS c2
           |              FROM documents))),
           |qwt AS (SELECT doc_id,
           |    CAST((${Curate.QualityWeights.mkString("[", ", ", "]")})[
           |      CAST(${md5HexNSql("g", 8)} % ${Curate.QualityBuckets}
           |        AS INTEGER) + 1] AS DECIMAL(18,6)) AS wt
           |  FROM qg),
           |qlow AS (SELECT doc_id FROM qwt GROUP BY doc_id
           |  HAVING ${Num.floorAtSql(
                s"1.0 / (1.0 + exp(-((${Curate.QualityBias}) " +
                  "+ CAST(SUM(wt) AS DOUBLE) / COUNT(*))))", 6)} < 0.484),
           |gated AS (SELECT doc_id, text, n_chars FROM quality
           |  WHERE doc_id NOT IN (SELECT doc_id FROM repbad)
           |    AND doc_id NOT IN (SELECT doc_id FROM qlow)),
           |fp AS (SELECT doc_id, text, n_chars, md5(${cleanSql("text")}) AS fp
           |       FROM gated),
           |exact AS (SELECT doc_id, text, n_chars FROM (
           |  SELECT doc_id, text, n_chars,
           |         row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
           |  FROM fp) WHERE rn = 1),
           |sh AS (SELECT doc_id, ${shinglesSql("t")} AS shs FROM
           |  (SELECT doc_id, $cleanToks AS t FROM
           |    (SELECT doc_id, ${cleanSql("text")} AS c FROM exact))),
           |sig AS (SELECT doc_id,
           |  list_transform(range(0, 8), s ->
           |    COALESCE(list_min(list_transform(shs, x -> md5(CAST(s AS VARCHAR) || ':' || x))), '~empty')) AS sig
           |  FROM sh WHERE len(shs) > 0),
           |banded AS (
           |  SELECT doc_id, sig, CAST(b.i AS INTEGER) AS band,
           |         md5(sig[CAST(b.i*2+1 AS INTEGER)] || '|' || sig[CAST(b.i*2+2 AS INTEGER)]) AS bkey
           |  FROM sig CROSS JOIN range(0, 4) AS b(i)),
           |losers AS (SELECT DISTINCT b.doc_id AS doc_id
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
           |  WHERE CAST(len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8 >= 0.5),
           |final AS (SELECT doc_id, n_chars FROM exact
           |          WHERE doc_id NOT IN (SELECT doc_id FROM losers))
           |SELECT CASE WHEN ${md5Hex4Sql("CAST(doc_id AS VARCHAR)")} % 10 < 8
           |            THEN 'train' ELSE 'eval' END AS split,
           |       COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
           |FROM final GROUP BY split ORDER BY split""".stripMargin,


      // replay of the PPM fixture rule: byte j of a (4+id%5)x(3+id%4)
      // image is (id+j)%256; header "P6\n<w> <h>\n255\n" is always 11
      // bytes (w,h single-digit). Channel means = exact integer sums /
      // n_pixels — one IEEE division, bit-equal across engines.
      "q70_media_features" ->
        """WITH m AS (SELECT doc_id, source,
          |    CAST(4 + doc_id % 5 AS INTEGER) AS w,
          |    CAST(3 + doc_id % 4 AS INTEGER) AS h
          |  FROM documents)
          |SELECT doc_id AS media_id, source AS kind,
          |  CAST(11 + 3 * w * h AS BIGINT) AS n_bytes,
          |  w AS width, h AS height,
          |  CAST(w * h AS BIGINT) AS n_pixels,
          |  CAST(list_sum(list_transform(range(0, w*h),
          |    p -> (doc_id + 3*p) % 256)) AS DOUBLE) / (w*h) AS mean_r,
          |  CAST(list_sum(list_transform(range(0, w*h),
          |    p -> (doc_id + 3*p + 1) % 256)) AS DOUBLE) / (w*h) AS mean_g,
          |  CAST(list_sum(list_transform(range(0, w*h),
          |    p -> (doc_id + 3*p + 2) % 256)) AS DOUBLE) / (w*h) AS mean_b
          |FROM m ORDER BY media_id""".stripMargin,


      // payload is UTF-8 text and the corpus is pure ASCII, so byte
      // slicing == character slicing and the frame md5s reproduce in SQL
      "q71_media_frames" ->
        """WITH f AS (SELECT doc_id AS media_id,
          |  CAST(UNNEST(list_filter(range(0, (strlen(text) + 255) // 256),
          |    i -> i % 2 = 0)) AS INTEGER) AS frame_idx, text
          |  FROM documents WHERE strlen(text) > 0)
          |SELECT media_id, frame_idx,
          |  CAST(strlen(substring(text, frame_idx * 256 + 1, 256)) AS BIGINT) AS n_bytes,
          |  md5(substring(text, frame_idx * 256 + 1, 256)) AS fingerprint
          |FROM f ORDER BY media_id, frame_idx""".stripMargin,


      "q72_media_resize" ->
        """SELECT doc_id AS media_id, source AS kind,
          | CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
          | md5(substring(repeat(text, CAST(64 // strlen(text) + 1 AS INTEGER)), 1, 64)) AS payload_md5
          |FROM documents WHERE strlen(text) > 0 ORDER BY media_id""".stripMargin,


      // t IS NOT NULL mirrors Spark's posexplode-of-null => zero rows
      // (DuckDB least(NULL, 3) is 3, which would fabricate 3 null-token
      // rows for a null-text document)
      "q80_posexplode_tokens" ->
        s"""WITH toks AS (SELECT doc_id, ${toksSql("text")} AS t
           |              FROM documents),
           |p AS (SELECT doc_id, t,
           |        unnest(range(0, least(len(t), 3))) AS pos FROM toks
           |      WHERE t IS NOT NULL)
           |SELECT doc_id, pos, t[pos + 1] AS tok FROM p
           |ORDER BY doc_id, pos""".stripMargin,


      "q81_exists_subquery" ->
        """SELECT c_custkey, c_name FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderstatus = 'F')
          |  AND NOT EXISTS (SELECT 1 FROM orders o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_orderstatus = 'P')
          |ORDER BY c_custkey""".stripMargin,


      "q82_scalar_subquery" ->
        """SELECT o_orderkey, o_totalprice FROM orders
          |WHERE o_totalprice > 0.5 * (SELECT MAX(o_totalprice) FROM orders)
          |ORDER BY o_orderkey""".stripMargin,


      "q83_range_frame" ->
        s"""WITH e AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             value FROM events)
           |SELECT user_id, event_id, es,
           | CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mv_sum,
           | COUNT(*) OVER w AS n_frame
           |FROM e
           |WINDOW w AS (PARTITION BY user_id ORDER BY es
           |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
           |ORDER BY user_id, event_id""".stripMargin,


      "q84_lead_lag_gaps" ->
        s"""WITH e AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             event_type FROM events)
           |SELECT user_id, event_id, es, event_type,
           | es - lag(es) OVER w AS gap_s,
           | lag(event_type) OVER w AS prev_type
           |FROM e
           |WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
           |ORDER BY user_id, event_id""".stripMargin,


      "q85_first_last" ->
        s"""WITH e AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             event_type FROM events),
           |f AS (SELECT user_id,
           |  first_value(event_type) OVER w AS first_type,
           |  last_value(event_type) OVER (PARTITION BY user_id
           |    ORDER BY es, event_id ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND UNBOUNDED FOLLOWING) AS last_type,
           |  COUNT(*) OVER (PARTITION BY user_id) AS n_events,
           |  row_number() OVER w AS rn
           | FROM e
           | WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id))
           |SELECT user_id, first_type, last_type, n_events FROM f
           |WHERE rn = 1 ORDER BY user_id""".stripMargin,


      "q86_union_by_name" ->
        """SELECT * FROM (
          |  SELECT o_orderkey, o_totalprice, 'fin' AS src FROM orders
          |  WHERE o_orderstatus = 'F'
          |  UNION ALL BY NAME
          |  SELECT o_orderkey, 'open' AS src FROM orders
          |  WHERE o_orderstatus = 'O')
          |ORDER BY o_orderkey, src""".stripMargin,


      // backslash/quote escapes mirror Spark's to_json for the common
      // cases (full JSON escaping also covers control chars — the
      // contract documented on Agg.mapCounts excludes those from keys)
      "q87_map_counts" ->
        """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
          |           FROM events GROUP BY 1, 2)
          |SELECT user_id,
          | '{' || string_agg(
          |   '"' || replace(replace(event_type, '\', '\\'), '"', '\"')
          |     || '":' || n, ',' ORDER BY event_type) || '}' AS counts_json
          |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,


      "q88_scd2_intervals" ->
        s"""WITH e AS (SELECT user_id, event_id, ${epochSql("ts")} AS es,
           |             event_type FROM events),
           |m AS (SELECT user_id, event_id, es, event_type,
           |  CASE WHEN lag(event_type) OVER w IS NULL
           |         OR lag(event_type) OVER w <> event_type
           |       THEN 1 ELSE 0 END AS new_run
           | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
           |r AS (SELECT user_id, es, event_type,
           |  CAST(SUM(new_run) OVER (PARTITION BY user_id
           |    ORDER BY es, event_id ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND CURRENT ROW) AS BIGINT) AS run_id FROM m),
           |g AS (SELECT user_id, run_id, min(event_type) AS event_type,
           |        min(es) AS valid_from, COUNT(*) AS n_events
           |      FROM r GROUP BY 1, 2)
           |SELECT user_id, run_id, event_type, valid_from,
           | lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
           |   AS valid_to,
           | n_events
           |FROM g ORDER BY user_id, run_id""".stripMargin,


      "q89_integrity_orphans" ->
        """SELECT
          | (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
          |   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
          |   AS orphan_orders,
          | (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
          |   (SELECT 1 FROM orders o2 WHERE o2.o_orderkey = l.l_orderkey))
          |   AS orphan_lineitems""".stripMargin,


      // q90_approx_profile: intentionally no oracle — approx sketches are
      // estimator-specific; the driver records a rows-only check and
      // SketchSpec pins the estimates against exact counts.

      "q91_stratified_sample" ->
        """SELECT doc_id, lang, source FROM (
          |  SELECT doc_id, lang, source,
          |    row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
          |  FROM documents)
          |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,


      "q92_dup_clusters" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents),
           |sh AS (SELECT id, ${shinglesSql("t")} AS shs
           |       FROM (SELECT id, $cleanToks AS t FROM cleaned)),
           |sig AS (SELECT id,
           |  list_transform(range(0, 8), s ->
           |    COALESCE(list_min(list_transform(shs, x -> md5(CAST(s AS VARCHAR) || ':' || x))), '~empty')) AS sig
           |  FROM sh WHERE len(shs) > 0),
           |banded AS (
           |  SELECT id, sig, CAST(b.i AS INTEGER) AS band,
           |         md5(sig[CAST(b.i*2+1 AS INTEGER)] || '|' || sig[CAST(b.i*2+2 AS INTEGER)]) AS bkey
           |  FROM sig CROSS JOIN range(0, 4) AS b(i)),
           |pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
           |  WHERE a.id < b.id
           |    AND CAST(len(list_filter(range(1, 9), i -> a.sig[i] = b.sig[i])) AS DOUBLE) / 8 >= 0.5),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
           |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
           |l0 AS (SELECT src AS id, least(src, MIN(dst)) AS lbl
           |       FROM edges GROUP BY src),
           |n1 AS (SELECT e.src AS id, MIN(l.lbl) AS nlbl
           |       FROM edges e JOIN l0 l ON l.id = e.dst GROUP BY e.src)
           |SELECT l0.id AS doc_id, least(l0.lbl, n1.nlbl) AS cluster_id
           |FROM l0 JOIN n1 ON n1.id = l0.id
           |ORDER BY doc_id""".stripMargin,


      "q93_bm25" ->
        s"""WITH cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents),
           |terms AS (SELECT id, UNNEST($cleanToks) AS term FROM cleaned),
           |tf AS (SELECT id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
           |dl AS (SELECT id, COUNT(*) AS dl FROM terms GROUP BY 1),
           |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
           |stats AS (SELECT (SELECT COUNT(*) FROM terms) AS n_terms,
           |                 (SELECT COUNT(*) FROM documents) AS n_docs),
           |scored AS (SELECT id, term, tf, df, dl,
           |  floor((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           |    * (tf * 2.5)
           |    / (tf + 1.5 * (0.25 + 0.75 * dl / (CAST(n_terms AS DOUBLE) / n_docs)))) * 10000) / 10000 AS score
           |  FROM tf JOIN dl USING (id) JOIN dfreq USING (term)
           |  CROSS JOIN stats),
           |ranked AS (SELECT id, term, tf, df, dl, score,
           |  row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rk
           |  FROM scored)
           |SELECT id AS doc_id, term, tf, df, dl, score,
           |  CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,


      "q94_gap_fill" ->
        s"""WITH b AS (SELECT user_id,
           |    (${epochSql("ts")} // 3600) * 3600 AS bucket,
           |    COUNT(*) AS n, ${dsumS("value")} AS total
           |  FROM events GROUP BY 1, 2),
           |frame AS (SELECT user_id,
           |    UNNEST(generate_series(MIN(bucket), MAX(bucket), 3600))
           |      AS bucket
           |  FROM b GROUP BY user_id),
           |j AS (SELECT f.user_id, f.bucket, COALESCE(b.n, 0) AS n, b.total
           |      FROM frame f LEFT JOIN b
           |        ON b.user_id = f.user_id AND b.bucket = f.bucket)
           |SELECT user_id, bucket, n,
           |  last_value(total IGNORE NULLS) OVER (PARTITION BY user_id
           |    ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
           |    AND CURRENT ROW) AS ffill_total
           |FROM j ORDER BY user_id, bucket""".stripMargin,


      "q95_share_of_total" ->
        """WITH c AS (SELECT source, lang, COUNT(*) AS n
          |           FROM documents GROUP BY 1, 2)
          |SELECT source, lang, n,
          |  floor((n / CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT))
          |    * 1000000) / 1000000 AS share,
          |  CAST(row_number() OVER (PARTITION BY source
          |    ORDER BY n DESC, lang ASC) AS INTEGER) AS rk
          |FROM c ORDER BY source, rk""".stripMargin,


      "q96_extract_all" ->
        """SELECT doc_id,
          | CAST(len(regexp_extract_all(text, '[a-z]+er\b')) AS INTEGER)
          |   AS n_matches,
          | COALESCE(array_to_string(regexp_extract_all(text, '[a-z]+er\b'),
          |   ','), '') AS matches
          |FROM documents ORDER BY doc_id""".stripMargin,


      "q97_fuzzy_pairs" ->
        """WITH k AS (SELECT DISTINCT p_name AS name FROM part),
          |b AS (SELECT name, string_split(name, ' ')[1] AS blk FROM k)
          |SELECT a.name AS id_a, b.name AS id_b,
          |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
          |FROM b a JOIN b b ON a.blk = b.blk AND a.name < b.name
          |WHERE levenshtein(a.name, b.name) <= 3
          |ORDER BY id_a, id_b""".stripMargin,


      "q98_exact_variance" ->
        """WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
          |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
          |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxx
          | FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, n,
          | floor((CAST(sx AS DOUBLE) / n) * 1000000) / 1000000 AS mean,
          | floor(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) * 10000) / 10000 AS var_samp,
          | floor(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) * 10000) / 10000 AS stddev
          |FROM g ORDER BY l_returnflag""".stripMargin,


      "q99_exact_corr" ->
        """WITH g AS (SELECT l_returnflag, COUNT(*) AS n,
          |  SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
          |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
          |  SUM(CAST(l_quantity AS DECIMAL(18,2))
          |    * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
          |  SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
          |  SUM(CAST(l_quantity AS DECIMAL(18,2))
          |    * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
          | FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, n,
          | floor(((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          |   / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          |    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) * 1000000) / 1000000 AS corr
          |FROM g ORDER BY l_returnflag""".stripMargin
  )
}
