package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a pretraining pipeline runs after cleaning
  * and dedup: sequence packing, eval-set decontamination, and PII
  * redaction. All deterministic and oracle-expressible (md5-derived
  * shards, ANSI window frames, RE2-compatible regexes).
  */
object Curate {

  /** Right-to-be-forgotten sweep: remove every row whose id appears in
    * the tombstone list, across all tables that carry the entity, and
    * emit the audit summary (before/removed/after per table) that a
    * data-governance run has to file. Dataset deletion requests are a
    * standing obligation for any training corpus assembled from user
    * content — this is the batch form (the q135 admission filter is the
    * ingest-time form: tombstones can also be folded into its standing
    * signature set so removed content cannot re-enter).
    *
    * Tombstone lists are request-sized (thousands), so the anti-join
    * broadcasts them — each table is one scan with a hash-probe filter,
    * no shuffle. A court-ordered bulk purge (millions of ids) flips to
    * a shuffle anti-join; same plan otherwise. Counts are one scalar
    * agg per table, unioned.
    *
    * Output: (table_name, n_before, n_removed, n_after) per table.
    */
  def tombstoneSweep(tables: Seq[(String, DataFrame, String)],
                     tombstones: DataFrame): DataFrame = {
    val tomb = tombstones.select(col(tombstones.columns.head)
      .as("__tomb_id"))
    tables.map { case (name, df, idCol) =>
      val after = df.join(broadcast(tomb),
          col(idCol) === col("__tomb_id"), "left_anti")
        .agg(count(lit(1)).as("n_after"))
      df.agg(count(lit(1)).as("n_before"))
        .crossJoin(after)
        .select(lit(name).as("table_name"), col("n_before"),
          (col("n_before") - col("n_after")).as("n_removed"),
          col("n_after"))
    }.reduce(_ unionByName _)
  }

  /** Cross-source contamination matrix: for every pair of sources, the
    * number of w-gram shingles they share and the overlap coefficient
    * |A∩B| / min(|A|,|B|). The corpus-level view of q114's
    * decontamination (doc vs eval-set): run it across training SOURCES
    * to find the mirror/scrape pairs that would otherwise double-count
    * a crawl in the mixture weights.
    *
    * Shape at scale: the (source, shingle) frame is DISTINCT first (a
    * partial-aggregated shuffle — a shingle hot across every doc
    * collapses map-side), so the shingle self-join sees at most S rows
    * per key for S sources: per-shingle join output is bounded by S²/2,
    * never by document count. Totals are S rows, broadcast back. For
    * thousands of sources, aggregate each shingle to its source-set
    * (bounded by S) and emit pairs from the set — same contract, one
    * less join.
    *
    * Output: (source_a, source_b, n_shared, overlap_coeff), pairs with
    * at least one shared shingle.
    */
  def crossSourceOverlap(docs: DataFrame, srcCol: String, textCol: String,
                         w: Int = 3): DataFrame = {
    // tokenize into a materialized attribute first (historical HOF
    // lambda-capture lesson; the round-9 native shingles evaluates its
    // child once per row, staging kept for readability)
    val sh = docs.select(col(srcCol).as("src"),
        Text.cleanTokens(col(textCol)).as("toks"))
      .select(col("src"),
        explode(array_distinct(Dedup.shingles(col("toks"), w))).as("sh"))
      .distinct()
      .localCheckpoint()
    val totals = sh.groupBy("src").agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("src").as("source_a"),
        col("n_sh").as("na"))), Seq("source_a"))
      .join(broadcast(totals.select(col("src").as("source_b"),
        col("n_sh").as("nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        Num.floorAt(col("n_shared").cast("double") /
          least(col("na"), col("nb")), 6).as("overlap_coeff"))
  }

  /** Pairwise Jensen–Shannon divergence between per-group unigram
    * distributions (Lin 1991) — q146 finds sources sharing literal
    * shingle mass (mirrors); this finds sources speaking the same
    * DISTRIBUTION (same register/topic mix) even with zero literal
    * overlap — the dedup-proof redundancy signal for mixture design.
    *
    * Exclusive-mass closed form keeps the join SHARED-TERMS-ONLY: for
    * a term only in P, the JS contribution is p/2 (log₂(p/(p/2)) = 1),
    * and Σ_exclusive p = 1 − Σ_shared p — so JS = Σ_shared [p/2·
    * log₂(p/m) + q/2·log₂(q/m)] + (1−Σ_shared p)/2 + (1−Σ_shared q)/2
    * with m = (p+q)/2, and terms exclusive to either side NEVER
    * materialize pairwise. Per-term doubles floor at 9 dp and sum
    * through DECIMAL(28,9) (order-free — the q160 contract). The
    * self-join is term-keyed: per-term fan-out is bounded by the group
    * count S, never corpus size (the q146 bound).
    *
    * Output: (g_a, g_b, n_shared_terms, jsd), jsd ∈ [0,1] (log₂),
    * floored 6 dp, pairs with at least one shared term.
    */
  def jsDivergence(docs: DataFrame, grpCol: String, textCol: String)
      : DataFrame = {
    val tc = docs.select(col(grpCol).as("g"),
        explode(Text.cleanTokens(col(textCol))).as("term"))
      .groupBy("g", "term").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds totals AND the pair join
    val tot = tc.groupBy("g").agg(sum(col("c")).as("n"))
    val p = tc.join(broadcast(tot), Seq("g"))
      .select(col("g"), col("term"),
        (col("c").cast("double") / col("n")).as("p"))
    val m = (col("x.p") + col("y.p")) / 2
    def decSum(c: Column) =
      sum(Num.floorAt(c, 9).cast("decimal(28,9)")).cast("double")
    p.as("x").join(p.as("y"),
        col("x.term") === col("y.term") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("g_a"), col("y.g").as("g_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        decSum(col("x.p") / 2 * log2(col("x.p") / m)
          + col("y.p") / 2 * log2(col("y.p") / m)).as("shared"),
        decSum(col("x.p")).as("sp"), decSum(col("y.p")).as("sq"))
      .select(col("g_a"), col("g_b"), col("n_shared_terms"),
        Num.floorAt(col("shared") + (lit(1.0) - col("sp")) / 2
          + (lit(1.0) - col("sq")) / 2, 6).as("jsd"))
  }

  /** Per-document shingle NOVELTY against a standing corpus — the
    * content-level ingest signal next to [[graft.ops.Dedup
    * .admitBySignature]]'s identity check: what fraction of a batch
    * doc's shingles has the corpus never seen? Novelty ≈ 0 flags
    * recombined boilerplate that signature identity misses (admission
    * only catches EXACT signature twins); novelty ≈ 1 is genuinely new
    * content worth its mixture slot.
    *
    * Shape at scale: the standing shingle set is one distinct agg
    * (persisted and merged per ingest at 100 TB — the q135 standing-
    * state pattern); the batch's distinct (doc, shingle) pairs
    * left-anti-join it on the shingle key and one doc-keyed agg closes.
    * Cost ∝ batch shingles, never corpus size.
    *
    * Output: (doc_id, n_shingles, n_novel, novelty) — docs with < w
    * tokens absent (no shingles, nothing to judge), novelty floored
    * 6 dp.
    */
  def batchNovelty(standing: DataFrame, batch: DataFrame, idCol: String,
                   textCol: String, w: Int = 3): DataFrame = {
    def docShingles(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"),
        Text.cleanTokens(col(textCol)).as("t"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("t"), w))).as("sh"))
    val standingSh = docShingles(standing).select("sh").distinct()
    val batchSh = docShingles(batch).localCheckpoint()
    val novel = batchSh.join(standingSh, Seq("sh"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    batchSh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        Num.floorAt(coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("novelty"))
  }

  /** Per-group token-budget admission: within each group (domain,
    * source, language), walk documents in deterministic md5 order and
    * keep the greedy prefix whose cumulative token count stays within
    * `budget`. This is how a mixture recipe's per-source token quota is
    * actually enforced in pretraining corpora (sample N tokens — not N
    * documents — per domain); the md5 walk makes the admitted set a pure
    * function of doc ids, engine- and rerun-stable.
    *
    * Prefix semantics (not knapsack): the first document that would
    * overflow the budget ends the group's admission — every admitted
    * doc's cumulative count is <= budget. One ordered prefix-sum window
    * per group: the rank-family shape whose ORDER the semantics require,
    * so it legitimately stays a window (spillable sort, bounded by group
    * size). A pathological mega-group is handled the same way q113
    * handles the global stream: split the budget across md5-range
    * sub-buckets (budget/k each) and admit per sub-bucket — same
    * output contract, k-way parallel.
    *
    * Output: (doc_id, group, n_tokens, cum_tokens) for admitted docs.
    */
  def tokenBudgetSample(docs: DataFrame, idCol: String, groupCol: String,
                        textCol: String, budget: Long): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"),
      col(groupCol).as("grp"),
      size(Text.cleanTokens(col(textCol))).cast("long").as("n_tokens"),
      md5(col(idCol).cast("string")).as("okey"))
    val w = Window.partitionBy("grp")
      .orderBy(col("okey").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("grp"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** GPT-style sequence packing: concatenate documents in a deterministic
    * order and chunk the token stream into `ctxTokens`-sized packs. Each
    * doc's pack is derived from its START OFFSET in the stream (docs may
    * straddle pack boundaries — standard concat-and-chunk packing).
    *
    * Packing is sharded: the stream is per md5-shard of the id, not
    * global — a single global cumulative sum would serialize on one
    * partition, while per-shard packing is embarrassingly parallel (one
    * window shuffle on shard) and is how packing actually runs at corpus
    * scale (each worker packs its own shard). Shard assignment is
    * md5-derived, so the layout is reproducible across engines and runs.
    *
    * Output: (doc_id, shard, n_tokens, start_offset, pack_id).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    ctxTokens: Int, shards: Int): DataFrame = {
    val t = docs.select(col(idCol).as("doc_id"),
        size(Text.tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("shard",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % shards))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id",
        floor(col("start_offset") / ctxTokens).cast("long"))
  }

  /** Deterministic corpus shuffle — the standard pretraining step between
    * dedup and [[packSequences]]: a reproducible global shuffle emitting
    * numbered shards, so training order is a pure function of the doc ids
    * — identical across engines, runs, and cluster partitionings
    * (`rand(seed)` is none of these: its draw depends on row order within
    * partitions, `repartitionByRange` samples data-dependent boundaries).
    *
    *  - `shuffle_key` = md5 of the id: the pseudo-random total order.
    *  - `shard` = FIXED hash-range bucket `floor(md5frac(id) * shards)` —
    *    scan-local, zero shuffles. NOT ntile: ntile's exactly-equal shard
    *    sizes need a global rank, i.e. a single-reducer sort of the
    *    corpus; md5 uniformity makes fixed buckets near-equal (±O(√n))
    *    at any scale, which is what shard sizing actually needs.
    *  - `pos` = rank of the doc within its shard by `shuffle_key` (id
    *    tie-break for md5-collision paranoia): the training order.
    *
    * Shape at scale: shard assignment is scan-local; `pos` is one hash
    * shuffle on shard + a spillable per-shard sort — exactly the sort the
    * shard writer must run anyway to emit deterministic file contents.
    * `shards` is the parallelism knob (corpus/shards rows per reducer).
    *
    * Output: input columns + (shuffle_key, shard, pos).
    */
  def deterministicShuffle(docs: DataFrame, idCol: String,
                           shards: Int): DataFrame = {
    require(shards >= 1, s"need shards >= 1, got $shards")
    docs
      .withColumn("shuffle_key", md5(col(idCol).cast("string")))
      .withColumn("shard",
        floor(md5Frac(col(idCol)) * shards).cast("int"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard")
          .orderBy(col("shuffle_key"), col(idCol))) - 1)
  }

  /** Eval-set decontamination: train docs sharing at least one distinct
    * w-shingle with ANY doc of the eval set, with the shared-shingle
    * count (the standard n-gram-overlap contamination check run before
    * training). `isEval` is a deterministic predicate over the id.
    *
    * Shape at scale: one shingle-keyed join; the eval side (distinct eval
    * shingles) is a tiny fraction of the corpus and broadcasts — the
    * train side never self-joins and nothing is all-pairs.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    isEval: Column, w: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"), isEval.as("ev"),
        Text.cleanTokens(col(textCol)).as("t"))
      .select(col("id"), col("ev"),
        explode(array_distinct(Dedup.shingles(col("t"), w))).as("sh"))
    val evalSh = sh.where(col("ev")).select(col("sh")).distinct()
    sh.where(!col("ev"))
      .join(broadcast(evalSh), Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .select(col("id").as("doc_id"), col("n_shared"))
  }

  /** [[decontaminate]] with a Bloom prefilter in front of the exact
    * join — the same output bit-for-bit (the filter only passes a
    * SUPERSET of the truly-shared shingles; the exact shingle join
    * behind it removes the false positives), bound to the same oracle
    * string, so the driver gate proves the pair is one contamination
    * check with two physical shapes.
    *
    * Why the second shape exists: [[decontaminate]] broadcasts the
    * DISTINCT eval shingles as an exact hash table — right while that
    * table fits the broadcast budget. A serious eval suite is ~10⁷-10⁸
    * distinct shingles at ~50-100 bytes each (GBs as a hash table, too
    * big to broadcast), while its Bloom filter at 1% fpp is ~9.6 bits
    * per key — 100× smaller. So the scale plan is: build the filter
    * once (driver-sized, reusable across corpus snapshots), probe it
    * scan-locally on the train side (codegen'd
    * [[graft.functions.BloomMightContainStr]] — kills ~all clean
    * shingles BEFORE any exchange), then SHUFFLE-join only the
    * survivors against the eval shingles for exactness. The join here
    * is deliberately NOT broadcast: survivors are ~(contaminated +
    * fpp·clean) rows, so both shuffle sides are tiny relative to the
    * corpus scan, and the plan never materializes an exact eval hash
    * table per task.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
                         isEval: Column, w: Int = 3,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"need 0 < fpp < 1, got $fpp")
    val sh = docs
      .select(col(idCol).as("id"), isEval.as("ev"),
        Text.cleanTokens(col(textCol)).as("t"))
      .select(col("id"), col("ev"),
        explode(array_distinct(Dedup.shingles(col("t"), w))).as("sh"))
    val evalSh = sh.where(col("ev")).select(col("sh")).distinct()
    // driver-sized model state (the pqCodebooks discipline): one pass
    // over the eval side builds the filter; expectedNumItems from a
    // cheap count so the bit array is sized to the actual key set
    val nEval = evalSh.count()
    val bloom = evalSh.stat.bloomFilter("sh", math.max(nEval, 1L), fpp)
    val candidates = sh.where(!col("ev"))
      .where(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.BloomMightContainStr(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sh")),
          bloom)))
    candidates.join(evalSh.hint("shuffle_hash"), Seq("sh"))
      .groupBy("id").agg(count(lit(1)).as("n_shared"))
      .select(col("id").as("doc_id"), col("n_shared"))
  }

  /** Self-routing decontamination — the q233/q272/q273 dispatcher
    * pattern applied to the [[decontaminate]]/[[decontaminateBloom]]
    * pair: a cheap preflight (approx distinct eval shingles — one
    * HLL-aggregated scan of the EVAL docs only, never the corpus)
    * routes to the exact-broadcast engine while the eval hash table
    * fits the broadcast budget and to the Bloom-prefilter engine past
    * it. Bit-identical either way (the pair property), so the family
    * stays bound to ONE oracle string — one oracle, three engines,
    * self-choosing.
    *
    * `maxBroadcastKeys` defaults to ~2M: distinct shingles at ~50-100
    * bytes each ≈ a 100-200 MB exact hash table, the conventional
    * broadcast ceiling; the Bloom filter for the same set is ~2.4 MB.
    */
  def decontaminateAuto(docs: DataFrame, idCol: String, textCol: String,
                        isEval: Column, w: Int = 3,
                        maxBroadcastKeys: Long = 2000000L): DataFrame = {
    val approxEval = docs.where(isEval)
      .select(explode(array_distinct(
        Dedup.shingles(Text.cleanTokens(col(textCol)), w))).as("sh"))
      .agg(approx_count_distinct(col("sh")).as("n"))
      .head().getLong(0)
    if (approxEval <= maxBroadcastKeys)
      decontaminate(docs, idCol, textCol, isEval, w)
    else decontaminateBloom(docs, idCol, textCol, isEval, w)
  }

  /** Contamination PROVENANCE — the audit readout behind
    * [[decontaminate]]/[[decontaminateBloom]]: not just how
    * contaminated each train doc is, but WHICH eval doc it leaks
    * (train_id, eval_id, shared distinct-shingle count), ranked, top
    * `topK` pairs. A decontamination run that ships counts without
    * provenance can't be audited — the pair list is what a release
    * review actually reads.
    *
    * Scale shape — the [[decontaminateBloom]] discipline, NOT the
    * broadcast one: the (shingle, eval_id) provenance table is strictly
    * LARGER than [[decontaminateBloom]]'s distinct-shingle set (it
    * keeps doc ids, and a shingle shared by e eval docs appears e
    * times), so if the distinct set is already "too big to broadcast"
    * at a serious eval suite (that scaladoc's GBs-as-a-hash-table
    * arithmetic), the provenance table dies first — and the audit
    * query a release review depends on is the worst place to die.
    * So: ONE Bloom filter over the distinct eval shingles (driver-
    * sized, ~9.6 bits/key at 1% fpp) probed scan-locally on the train
    * side kills ~all clean shingles BEFORE any exchange; only the
    * survivors (~contaminated + fpp·clean rows) shuffle-join the
    * (shingle, eval_id) table for exactness — false positives drop in
    * the join, so the output is bit-identical to the broadcast form
    * and stays bound to the same oracle string. The ranked cut is
    * orderBy+limit — a distributed TakeOrdered, never a
    * single-partition window. Ties cut deterministically by
    * (count desc, train id, eval id).
    */
  def decontaminateProvenance(docs: DataFrame, idCol: String,
                              textCol: String, isEval: Column,
                              w: Int = 3, topK: Int = 50,
                              fpp: Double = 0.01): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    require(fpp > 0 && fpp < 1, s"need 0 < fpp < 1, got $fpp")
    val sh = docs
      .select(col(idCol).as("id"), isEval.as("ev"),
        Text.cleanTokens(col(textCol)).as("t"))
      .select(col("id"), col("ev"),
        explode(array_distinct(Dedup.shingles(col("t"), w))).as("sh"))
    val evalSh = sh.where(col("ev"))
      .select(col("id").as("eval_id"), col("sh")).distinct()
    // the filter trains on DISTINCT shingles (the q276 key set — the
    // provenance table's eval_id multiplicity would only waste bits)
    val evalKeys = evalSh.select(col("sh")).distinct()
    val nEval = evalKeys.count()
    val bloom = evalKeys.stat.bloomFilter("sh", math.max(nEval, 1L), fpp)
    val candidates = sh.where(!col("ev"))
      .where(org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.BloomMightContainStr(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("sh")),
          bloom)))
    candidates.join(evalSh.hint("shuffle_hash"), Seq("sh"))
      .groupBy("id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .select(col("id").as("doc_id"), col("eval_id"), col("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_id"), col("eval_id"))
      .limit(topK)
  }

  /** SEMANTIC (embedding-space) decontamination — the paraphrase-blind
    * spot of the n-gram family ([[decontaminate]]/[[decontaminateBloom]]
    * /[[decontaminateAuto]]): an eval answer reworded in the training
    * set shares no 3-shingle, but its embedding sits next to the eval
    * doc's. Emits the audit pair list — (train_id, eval_id, sim) for
    * every probed-cell train/eval pair with floored cosine ≥ `threshold`,
    * ranked, top `topK` — the embedding-space sibling of the q285
    * provenance readout.
    *
    * Blocking is the SemDeDup discipline (Abbas et al. 2023, the q125
    * shape): pair generation runs WITHIN the deterministic kmeans
    * cells, never all-pairs — `embCells` arrives pre-assigned (the
    * registered form reads [[graft.ops.AnnIndex]]'s physical postings,
    * so the decontamination audit and the ANN family block on the SAME
    * stored index). Cosines floored at 4 dp (cross-engine ranking
    * stability); the ranked cut is orderBy+limit — a distributed
    * TakeOrdered, never a single-partition window; ties cut by
    * (sim desc, train id, eval id).
    *
    * Cell blocking trades recall for the never-all-pairs bound
    * exactly as the paper does: a contaminated pair straddling a cell
    * boundary is missed by an own-cell-only scan — and
    * [[semanticDeconRecall]] (q290) MEASURES that configuration at
    * 0.29–0.46 recall on the fixtures, degrading with corpus size. So
    * the production knob is `probes`: the eval side scans own cell ∪
    * the nearest-centroid cells (the exact monotone topKIvf policy —
    * own cell always, centroid-rank r enters at max(r, 2) ≤ probes,
    * dedup), which is the SAME probe set q290's row p measures — read
    * q290's table, pick probes, pass it here. probes = 1 keeps the
    * own-cell-only scan (the SemDeDup paper's form, and the truth
    * anchor q290 diffs against); the registered q289 ships probes = 2,
    * the smallest measured-sane setting. Candidate cost stays bounded
    * by probes × cell size per eval doc — never all-pairs.
    */
  def decontaminateSemantic(embCells: DataFrame, isEval: Column,
                            threshold: Double, topK: Int = 100,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding",
                            cellCol: String = "cell",
                            probes: Int = 2,
                            probeCents: Option[DataFrame] = None)
      : DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    require(probes >= 1, s"need probes >= 1, got $probes")
    val evOwn = embCells.where(isEval)
      .select(col(cellCol).as("cell"), col(idCol).as("eval_id"),
        col(vecCol).as("ev_vec"))
      .withColumn("ev_norm", Sim.norm(col("ev_vec")))
    val ev =
      if (probes == 1) evOwn
      else {
        // rank cells by floored-9dp cosine of the eval vector to each
        // cell centroid (ties to the lowest cell) — centroid-rank r
        // enters the probe set at max(r, 2), exactly q290's policy, so
        // the registered probes value is the one its measurement names.
        // `probeCents` supplies STORED geometry (AnnIndex.probeCentroids
        // — (cell, cv, cn), bit-identical to cellCentroids on the same
        // postings) so the registered form ranks against the store
        // instead of re-aggregating the corpus.
        val cent = probeCents
          .getOrElse(Sim.cellCentroids(embCells, cellCol, vecCol))
        val pw = Window.partitionBy("eval_id")
          .orderBy(col("csim").desc, col("cell").asc)
        val ranked = evOwn
          .select(col("eval_id"), col("ev_vec"), col("ev_norm"))
          .crossJoin(broadcast(cent))
          .withColumn("csim",
            Num.floorAt(Sim.dot(col("ev_vec"), col("cv")) /
              (col("ev_norm") * col("cn")), 9))
          .withColumn("pr", row_number().over(pw))
          .where(greatest(col("pr"), lit(2)) <= probes)
          .select(col("cell"), col("eval_id"), col("ev_vec"),
            col("ev_norm"))
        // (ev_vec, ev_norm) identical across duplicates → the dedup is
        // deterministic; a train vector lives in exactly ONE cell, so
        // the probed union can never duplicate a (train, eval) pair
        evOwn.unionByName(ranked).dropDuplicates("eval_id", "cell")
      }
    val tr = embCells.where(!isEval)
      .select(col(cellCol).as("cell"), col(idCol).as("train_id"),
        col(vecCol).as("tr_vec"))
      .withColumn("tr_norm", Sim.norm(col("tr_vec")))
    // cell-keyed join, NO broadcast hint (the q125 nearDupPairs rule):
    // the eval slice of a serious suite is too big to broadcast — AQE
    // broadcasts when it measures small, shuffles when it doesn't
    tr.join(ev, Seq("cell"))
      .select(col("train_id"), col("eval_id"),
        Num.floorAt(Sim.dot(col("tr_vec"), col("ev_vec")) /
          (col("tr_norm") * col("ev_norm")), 4).as("sim"))
      .where(col("sim") >= threshold)
      .orderBy(col("sim").desc, col("train_id"), col("eval_id"))
      .limit(topK)
  }

  /** Measured boundary recall for [[decontaminateSemantic]] — the
    * q155/q228/q254 "publish the realized recall, not a formula"
    * contract applied to the semantic-decontamination family: for each
    * probe count p in [1, maxProbes], the recall of the cell-blocked
    * pair scan (eval side probing own cell ∪ the p nearest-centroid
    * cells — the exact monotone topKIvf policy: own cell at pmin = 1,
    * centroid rank r at pmin = max(r, 2), min-wins dedup) against the
    * BRUTE all-pairs train×eval truth at the same threshold. The brute
    * side is the harness anchor (the q40 role): it scans every train
    * vector per eval doc and exists to MEASURE what same-cell blocking
    * loses at the cell boundary — production ships the probed engine
    * and reads this table to pick p.
    *
    * Output: (probes, n_truth, n_approx, n_hits, recall) — one row per
    * p, zero-filled, recall floored 4 dp (1.0 by convention on an
    * empty truth set).
    */
  // memoizes a FUTURE of the truth parquet path, not the path itself:
  // the truth build is a full Spark cross-join + write, and running it
  // inside computeIfAbsent would hold the map's bin lock for the whole
  // job — concurrent Verify threads computing OTHER keys that hash to
  // the same bin would block behind it (r14 advice). The pattern now
  // lives in [[StoreCommit.singleFlight]], shared with every
  // store/count memo (r15 advice generalized it).
  private val deconTruthMemo = new java.util.concurrent
    .ConcurrentHashMap[String,
      java.util.concurrent.CompletableFuture[String]]

  private def deconTruthPath(memoKey: String)
                            (build: => String): String =
    StoreCommit.singleFlight(deconTruthMemo, memoKey)(build)

  def semanticDeconRecall(embCells: DataFrame, isEval: Column,
                          threshold: Double, maxProbes: Int = 3,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          cellCol: String = "cell",
                          truthKey: Option[String] = None): DataFrame = {
    require(maxProbes >= 1, s"need maxProbes >= 1, got $maxProbes")
    val spark = embCells.sparkSession
    val tr = embCells.where(!isEval)
      .select(col(cellCol).as("cell"), col(idCol).as("train_id"),
        col(vecCol).as("tr_vec"))
      .withColumn("tr_norm", Sim.norm(col("tr_vec")))
    val ev = embCells.where(isEval)
      .select(col(cellCol).as("owncell"), col(idCol).as("eval_id"),
        col(vecCol).as("ev_vec"))
      .withColumn("ev_norm", Sim.norm(col("ev_vec")))
    def sim(tv: Column, tn: Column, evv: Column, evn: Column): Column =
      Num.floorAt(Sim.dot(tv, evv) / (tn * evn), 4)
    // brute truth: eval × ALL train — harness-anchor scan, consumed
    // twice (hit join + n_truth), materialized once. The truth is
    // QUANTIZER-INDEPENDENT (raw vectors + ids only), so with
    // `truthKey` it memoizes parquet-backed per (key, threshold) and
    // every recall harness over the same corpus/split reads ONE scan
    // (q290/q304 each otherwise re-derive it; lesson #1: durable
    // memos must be parquet-backed, not checkpoint-backed).
    val truthRaw = tr.crossJoin(broadcast(ev))
      .where(sim(col("tr_vec"), col("tr_norm"), col("ev_vec"),
        col("ev_norm")) >= threshold)
      .select(col("train_id"), col("eval_id"))
    val truth = (truthKey match {
      case Some(key) =>
        // the key carries the EVAL-SPLIT expression too: the truth is
        // a function of (corpus, split, threshold), and a second
        // harness on the same fixture with a different split must
        // never read this one's pairs
        val path = deconTruthPath(
          s"$key#$isEval#$threshold#$idCol#$vecCol") {
            val p = graft.TempDirs.register(java.nio.file.Files
              .createTempDirectory("graft-decontruth").toString) +
              "/truth"
            truthRaw.coalesce(1).write.mode("overwrite").parquet(p)
            p
          }
        StoreRead.parquet(spark, path)
      case None => truthRaw.localCheckpoint()
    }).withColumn("__hit", lit(true))
    // eval-side probe ranking: floored-9dp cosine to each cell
    // centroid, ties to the lowest cell (the kmeans/topKIvf discipline)
    val cent = Sim.cellCentroids(embCells, cellCol, vecCol)
    val pw = Window.partitionBy("eval_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val ranked = ev.crossJoin(broadcast(cent))
      .withColumn("csim",
        Num.floorAt(Sim.dot(col("ev_vec"), col("cv")) /
          (col("ev_norm") * col("cn")), 9))
      .withColumn("pr", row_number().over(pw))
      .where(col("pr") <= maxProbes)
      .select(col("eval_id"), col("cell"), col("ev_vec"),
        col("ev_norm"), greatest(col("pr"), lit(2)).as("pmin"))
    val own = ev.select(col("eval_id"), col("owncell").as("cell"),
      col("ev_vec"), col("ev_norm"), lit(1).as("pmin"))
    // (ev_vec, ev_norm) identical across duplicates → first() is
    // deterministic; MIN(pmin) realizes own-cell-wins
    val probed = own.unionByName(ranked)
      .groupBy(col("eval_id"), col("cell"))
      .agg(min(col("pmin")).as("pmin"), first(col("ev_vec")).as("ev_vec"),
        first(col("ev_norm")).as("ev_norm"))
    // a train vector lives in exactly one cell, so a (train, eval)
    // pair appears at most once — pmin slices the sweep
    val cand = tr.join(probed, Seq("cell"))
      .select(col("train_id"), col("eval_id"), col("pmin"),
        sim(col("tr_vec"), col("tr_norm"), col("ev_vec"),
          col("ev_norm")).as("sim"))
      .where(col("sim") >= threshold)
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val stats = cand
      .withColumn("p", explode(sequence(lit(1), lit(maxProbes))))
      .where(col("pmin") <= col("p"))
      .join(truth, Seq("train_id", "eval_id"), "left")
      .groupBy(col("p").cast("int").as("probes"))
      .agg(count(lit(1)).as("n_approx"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hits"))
    spark.range(1, maxProbes + 1)
      .select(col("id").cast("int").as("probes"))
      .join(stats, Seq("probes"), "left")
      .crossJoin(broadcast(nT))
      .select(col("probes"), col("n_truth"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_truth") === 0, lit(1.0)).otherwise(
          Num.floorAt(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_truth"), 4)).as("recall"))
  }

  /** Coverage-MATCHED quantizer-policy recall (r13 verdict #5): q290
    * shows boundary recall at FIXED k = 8 cells degrading as the
    * corpus grows, and the standard IVF sizing rule is k ∝ √n — but
    * the bare k = ⌈√n⌉ rule at a FIXED probe count loses: 2 of 45
    * cells covers 4% of the space vs 2 of 8 = 25%, so scaled k
    * strictly lowers boundary recall. The fair comparison — and the
    * production policy — holds the probed FRACTION of cells constant
    * and scales probes with k. For each policy (k = 8, k = ⌈√n⌉) and
    * each coverage fraction f, this emits the [[semanticDeconRecall]]
    * row at probes = max(1, ⌈k·f⌉), labeled with f.
    *
    * The claim this measures: at matched coverage, the scaled
    * quantizer's finer centroid ranking recovers the recall the bare
    * rule loses, while the per-cell candidate bound shrinks by ~k/8 —
    * i.e. k buys cost bounds, and recall survives iff probes scale
    * with k. The probed candidate count stays ∝ f·n per eval row
    * under BOTH policies, so equal f is equal worst-case scan cost.
    *
    * `fracs` must be dyadic (2⁻ʲ multiples) so ⌈k·f⌉ is binary-exact
    * in both engines (the DuckDB oracle replays the same ceil).
    *
    * `storedCells` (round 15): a per-k source of ALREADY-ASSIGNED
    * (id, vec, cell) postings — the physical [[AnnIndex]] store's
    * `cells/` frame — replacing the in-memory kmeans assignment. The
    * stored postings are the SAME deterministic quantizer's output
    * (shared training memos, bit-exact parquet round-trip), so the
    * measurement is engine-independent — and the store-served row
    * (q304) at three SFs is the direct evidence that the
    * PHYSICAL index sized by [[graft.ops.AnnIndex.sizing]] holds the
    * recall the fixed-k=8 store loses.
    *
    * Output: (policy, k, coverage, probes, n_truth, n_approx, n_hits,
    * recall) — one row per policy × fraction, ordered by the caller.
    */
  def semanticDeconRecallCoverage(emb: DataFrame, isEval: Column,
                                  threshold: Double,
                                  fracs: Seq[Double] = Seq(0.125, 0.25),
                                  idCol: String = "vec_id",
                                  vecCol: String = "embedding",
                                  cacheKey: Option[String] = None,
                                  storedCells: Option[Int => DataFrame] =
                                    None)
      : DataFrame = {
    // dyadic check enforces what the scaladoc promises: every f must
    // be an exact binary fraction (denominator ≤ 2^20) so ⌈k·f⌉ is
    // bit-identical in both engines — a caller passing e.g. 0.1 (whose
    // double is 0.1000…0055) would silently ceil differently from the
    // oracle's DECIMAL literal at k·f integer boundaries (r14 advice)
    require(fracs.nonEmpty && fracs.forall(f => f > 0.0 && f <= 1.0 &&
        (f * (1 << 20)).isWhole),
      s"need DYADIC coverage fractions in (0, 1] (exact multiples of " +
        s"2^-20, so k*f ceils replay binary-exact in SQL), got $fracs")
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count() // the one driver scalar — the sizing preflight
    val kScaled = math.ceil(math.sqrt(n.toDouble)).toInt
    // stored postings are already materialized parquet — only the
    // in-memory assignment (a k·dim-literal projection read three
    // times by the harness) is worth checkpointing
    def cellsAt(k: Int) = storedCells match {
      case Some(src) => src(k)
      case None => (cacheKey match {
        case Some(key) =>
          Sim.kmeansCellsCached(emb, k, 2, key, idCol, vecCol)
        case None => Sim.kmeansCells(emb, k, 2, idCol, vecCol)
      }).localCheckpoint()
    }
    def run(k: Int, policy: String): DataFrame = {
      val budgets = fracs.map(f =>
        (policy, k, f, math.max(1, math.ceil(k * f).toInt)))
      val labels = budgets.toDF("policy", "k", "coverage", "probes")
      val maxB = budgets.map(_._4).max
      // one harness run at the largest budget; smaller budgets are
      // pmin-slices of the same sweep (the q294 one-plan discipline)
      semanticDeconRecall(cellsAt(k), isEval, threshold,
          maxProbes = maxB, idCol, vecCol, truthKey = cacheKey)
        .join(broadcast(labels), Seq("probes"))
        .select(col("policy"), col("k"), col("coverage"), col("probes"),
          col("n_truth"), col("n_approx"), col("n_hits"), col("recall"))
    }
    run(8, "fixed8").unionByName(run(kScaled, "scaled_sqrt"))
  }

  /** The RETRAIN decision for a sized frozen quantizer store (r15
    * verdict: k = ⌈√n⌉ means corpus growth that bumps ⌈√n⌉ invalidates
    * the frozen store's root, and "nothing consumes the drift monitor
    * as a policy") — the measured rule for whether a grown corpus is
    * worth the from-scratch retrain the resize forces:
    *
    *  - the STALE arm is the index production actually has — the
    *    quantizer trained on the STANDING corpus at the size the
    *    standing corpus dictated (k = ⌈√n₀⌉), serving the GROWN corpus
    *    via frozen appends (the [[graft.ops.AnnIndex]] history's
    *    contract: postings never move);
    *  - the RESIZED arm is what the retrain would buy — trained on the
    *    grown corpus at its size (k = ⌈√n⌉).
    *
    * Both arms are measured at MATCHED coverage (probes =
    * max(1, ⌈k·frac⌉) — [[semanticDeconRecallCoverage]]'s equal-
    * worst-case-scan-cost discipline, so the row isolates what the
    * retrain buys, not extra probe budget), against the one shared
    * brute truth. The decision: retrain iff the growth actually bumped
    * the size (k_resized > k_stale — otherwise the stale store IS the
    * sized store) AND the measured recall gain at matched cost clears
    * `minGain` (0.02 — below that, the recall bought cannot be told
    * from the harness's own quantization of 1/n_truth on the
    * fixtures, and a full re-encode of every standing vector is not
    * worth noise).
    *
    * `nStanding`/`nDelta` come from the caller — the registered query
    * reads them off the maintained append history's head (the
    * q280/q293 drift monitor's artifact), which is the point: the
    * monitor's growth numbers drive the measurement, the measurement
    * drives the decision, and the whole chain is one oracle-gated row.
    * There is deliberately NO corpus parameter: the truth and both
    * recall arms derive entirely from the two cell frames — a corpus
    * argument would be silently ignored (r16 advice).
    *
    * Output (one row): (n_standing, n_delta, k_stale, k_resized,
    * probes_stale, probes_resized, n_truth, recall_stale,
    * recall_resized, gain, retrain).
    */
  def retrainDecision(isEval: Column, threshold: Double,
                      nStanding: Long, nDelta: Long,
                      staleCells: Int => DataFrame,
                      resizedCells: Int => DataFrame,
                      frac: Double = 0.25, minGain: Double = 0.02,
                      cacheKey: Option[String] = None): DataFrame = {
    require(nStanding > 0 && nDelta >= 0,
      s"need a non-empty standing corpus, got ($nStanding, $nDelta)")
    require(frac > 0.0 && frac <= 1.0 && (frac * (1 << 20)).isWhole,
      s"need a DYADIC coverage fraction (the q304 discipline), " +
        s"got $frac")
    val kStale = math.ceil(math.sqrt(nStanding.toDouble)).toInt
    val kResized =
      math.ceil(math.sqrt((nStanding + nDelta).toDouble)).toInt
    def arm(k: Int, cells: DataFrame, suffix: String): DataFrame = {
      val p = math.max(1, math.ceil(k * frac).toInt)
      semanticDeconRecall(cells, isEval, threshold, maxProbes = p,
          truthKey = cacheKey)
        .where(col("probes") === p)
        .select(col("probes").as(s"probes_$suffix"), col("n_truth"),
          col("recall").as(s"recall_$suffix"))
    }
    val gain =
      Num.floorAt(col("recall_resized") - col("recall_stale"), 4)
    arm(kStale, staleCells(kStale), "stale")
      .crossJoin(
        arm(kResized, resizedCells(kResized), "resized")
          .drop("n_truth"))
      .select(
        lit(nStanding).as("n_standing"), lit(nDelta).as("n_delta"),
        lit(kStale).as("k_stale"), lit(kResized).as("k_resized"),
        col("probes_stale"), col("probes_resized"), col("n_truth"),
        col("recall_stale"), col("recall_resized"), gain.as("gain"),
        (lit(kResized > kStale) && gain >= minGain).as("retrain"))
  }

  /** Deterministic md5-derived uniform fraction of an id in [0, 1):
    * first 8 md5 nibbles / 2^32. No PRNG state → reproducible across
    * engines (DuckDB oracle replays it nibble-for-nibble) and across
    * cluster re-runs, unlike rand(seed) whose draw depends on row order
    * and partitioning.
    */
  def md5Frac(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Source-mixture sampling: keep each row with probability = its
    * source's target rate (the domain-reweighting step of corpus assembly
    * — up/down-weight web vs books vs code by sampling rate). The keep
    * decision is a scan-local md5-threshold on the row id: ZERO shuffles,
    * no window, no per-stratum sort — strictly cheaper at 100 TB than the
    * quota form (q110), which needs a per-domain window; use quotas only
    * when a hard per-domain row CAP is required rather than a rate.
    *
    * Rates are a literal map (source → [0,1]); unlisted sources use
    * `default`.
    */
  def mixtureSample(docs: DataFrame, idCol: String, sourceCol: String,
                    rates: Map[String, Double],
                    default: Double): DataFrame = {
    val rate = rates.foldLeft(lit(default)) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(r)).otherwise(acc)
    }
    docs.where(md5Frac(col(idCol)) < rate)
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * PER-GROUP generalization of [[graft.ops.Agg.weightedSample]]
    * (A-Res, Efraimidis & Spirakis 2006), sharing its key exactly:
    * rank by ln(u)/w descending with u the 48-bit md5 uniform. ln(u)/w
    * is the monotone equivalent of the textbook u^(1/w) priority,
    * chosen for the same reason Agg's scaladoc records — u^(1/w)
    * compresses all keys against 1.0 for large weights, so a
    * floor-stabilized comparison collapses them to the id tie-break
    * and silently loses weight-proportional selection; ln(u)/w keeps
    * ~1e-7 spacing at the 8-dp floor. The k highest keys per group are
    * a weighted sample without replacement, reproducible from ids
    * alone: no RNG state, no seed coordination, no dependence on row
    * order or partitioning. This is the quality-proportional
    * subsampler [[mixtureSample]]'s rate form cannot express: a hard
    * k-row budget per group whose composition still follows the
    * weights.
    *
    * Non-positive weights are FILTERED (the Agg.weightedSample
    * contract): a negative weight's key would deterministically
    * outrank every valid row and a zero weight divides to null —
    * filter rather than silently mis-sample.
    *
    * Scale shape: the key is scan-local; the top-k is one rank-window —
    * WindowGroupLimit keeps a k-row heap per map partition, so only k
    * rows per partition reach the (per-group) reducer. No candidate
    * materialization, no second pass.
    */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
                     k: Int, groupCol: Option[String] = None)
      : DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    // u in (0,1]: (v + 1) / 2^48 over the first 12 md5 nibbles — the
    // identical uniform Agg.weightedSample draws
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 12),
      16, 10).cast("double") + 1) / 281474976710656.0
    val pri = graft.ops.Num.floorAt(
      log(u) / col(weightCol).cast("double"), 8)
    val win = groupCol.map(g => Window.partitionBy(g))
      .getOrElse(Window.partitionBy())
      .orderBy(col("priority").desc, col(idCol).asc)
    docs.where(col(weightCol) > 0)
      .withColumn("priority", pri)
      .withColumn("rk", row_number().over(win))
      .where(col("rk") <= k)
  }

  /** Budget-driven corpus assembly — the composition that closes the
    * sampling family: [[mixtureAllocation]]'s integer per-source
    * quotas (largest remainder over sqrt-damped source sizes, summing
    * to `target` exactly) drive [[weightedSample]]'s per-source A-Res
    * ranks, so one call draws a FIXED total budget split across
    * sources by policy, each source's slice weight-proportional
    * without replacement and reproducible from ids alone.
    *
    * Scale shape: the rank window is first capped at the STATIC
    * `target` (so WindowGroupLimit still prunes map-side — a dynamic
    * per-group limit alone would rank every row), then the
    * sources-sized allocation broadcasts into the final `rk <= alloc`
    * filter. A source with fewer eligible docs than its quota yields
    * what it has (allocation is demand-blind by design — the
    * shortfall is visible as max(rk) < alloc).
    */
  def budgetedSample(docs: DataFrame, idCol: String, weightCol: String,
                     srcCol: String, target: Long): DataFrame = {
    require(target > 0 && target <= Int.MaxValue,
      s"need 0 < target <= Int.MaxValue, got $target")
    val alloc = mixtureAllocation(docs, srcCol, target)
      .select(col(srcCol), col("alloc"))
    weightedSample(docs, idCol, weightCol, target.toInt, Some(srcCol))
      .join(broadcast(alloc), srcCol)
      .where(col("rk") <= col("alloc"))
  }

  /** [[budgetedSample]] allocated by MASS: quotas follow
    * [[mixtureAllocationByMass]] over the per-row weight column
    * (sqrt-damped per-source Σ weight), and the per-source slices are
    * the same A-Res weight-proportional draws. With the weight set to
    * a dedup-discounted per-doc token mass, this is the sampler a
    * soft-deduplicated corpus actually wants end to end: a
    * near-duplicate cluster contributes its mass ONCE to the quota,
    * and its members compete for the draw at 1/|cluster| strength
    * each (q307 composes it with the q301/q303 weights).
    */
  def budgetedSampleByMass(docs: DataFrame, idCol: String,
                           weightCol: String, srcCol: String,
                           target: Long): DataFrame = {
    require(target > 0 && target <= Int.MaxValue,
      s"need 0 < target <= Int.MaxValue, got $target")
    val alloc = mixtureAllocationByMass(docs, srcCol, weightCol, target)
      .select(col(srcCol), col("alloc"))
    weightedSample(docs, idCol, weightCol, target.toInt, Some(srcCol))
      .join(broadcast(alloc), srcCol)
      .where(col("rk") <= col("alloc"))
  }

  /** Temperature-scaled mixture weights: given per-group token counts,
    * the alpha-temperature sampling weights w_g = n_g^α / Σ n^α — the
    * standard rebalancing between "proportional to size" (α = 1) and
    * "uniform across groups" (α = 0) used for multilingual and
    * multi-source pretraining mixes. Emits, per group, its natural
    * share, its α-weight, and the expected token draw under a total
    * budget — the numbers that feed [[mixtureSample]]'s per-source
    * rates and [[tokenBudgetSample]]'s per-group budgets.
    *
    * Shape at scale: one corpus-keyed agg (token counts per group,
    * partial-aggregated) and one broadcast scalar for the Σ n^α
    * normalizer — |groups| rows end to end after the first agg. All
    * doubles floored at 6 dp; the pow/sum drift sits orders below.
    *
    * Output: (group, n_tokens, share, weight, expected_tokens).
    */
  def mixtureWeights(docs: DataFrame, groupCol: String, textCol: String,
                     alpha: Double, budget: Long): DataFrame = {
    val counts = docs.select(col(groupCol).as("grp"),
        size(Text.cleanTokens(col(textCol))).cast("long").as("nt"))
      .groupBy("grp").agg(sum(col("nt")).as("n_tokens"))
      .localCheckpoint() // feeds the normalizer agg and the final select
    val norm = counts.agg(
      sum(col("n_tokens")).as("total_tokens"),
      sum(pow(col("n_tokens").cast("double"), alpha)).as("z"))
    counts.crossJoin(broadcast(norm))
      .select(col("grp"), col("n_tokens"),
        Num.floorAt(col("n_tokens").cast("double") /
          col("total_tokens"), 6).as("share"),
        Num.floorAt(pow(col("n_tokens").cast("double"), alpha) /
          col("z"), 6).as("weight"),
        // floor, not cast: DuckDB's CAST(double AS BIGINT) rounds to
        // nearest while Spark's truncates — floor() agrees everywhere
        floor(pow(col("n_tokens").cast("double"), alpha) / col("z") *
          budget).cast("long").as("expected_tokens"))
  }

  /** Per-document duplicated-n-gram share: of a doc's DISTINCT w-shingles,
    * the fraction also present in at least one OTHER document (the
    * boilerplate/duplication signal corpus reports track per source —
    * Dolma's "duplicate paragraph fraction" generalized to shingles, which
    * this corpus' unpunctuated text calls for).
    *
    * Shape at scale: distinct (doc, shingle) pairs → one shingle-keyed agg
    * for cross-doc document frequency → join back on the shingle → one
    * doc-keyed agg. Same two-shuffle skeleton as TF-IDF's df pass; nothing
    * is all-pairs and no doc's shingle set leaves its executor un-reduced.
    *
    * Output: (doc_id, n_shingles, n_dup, dup_share).
    */
  def dupNgramShare(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = 5): DataFrame = {
    // tokens materialized BEFORE the shingle lambda touches them — an
    // inlined cleanTokens is re-evaluated per array element by the
    // lambda (Text.scala contract)
    val sh = docs
      .select(col(idCol).as("doc_id"),
        Text.cleanTokens(col(textCol)).as("t"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shingles(col("t"), w))).as("sh"))
    // document frequency via groupBy("sh").count() joined back onto a
    // CHECKPOINTED (doc, shingle) frame — the round-6 q121 shape, and NOT
    // the earlier unordered COUNT window over the shingle: a count window
    // has no partial aggregation, so a hot boilerplate shingle's entire
    // row set buffers on ONE reducer (straggler/OOM at corpus scale),
    // while groupBy+count pre-combines map-side and the join back streams
    // (AQE skew-split applies to joins, never to window buffers). The
    // localCheckpoint materializes the tokenize+shingle+explode pipeline
    // ONCE for its two consumers — the naive join-back re-evaluated it
    // per side (measured 10.6 s at sf0.1; checkpointed join-back times
    // within noise of the window form it replaces).
    val shCk = sh.localCheckpoint()
    val dfCounts = shCk.groupBy("sh").agg(count(lit(1)).as("n_docs"))
    shCk.join(dfCounts, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_share",
        col("n_dup").cast("double") / col("n_shingles"))
  }

  /** Per-document out-of-vocabulary rate against the corpus' own top-`v`
    * vocabulary (frequency-ranked, term-asc tie-break): the cheap
    * quality/abnormality signal — gibberish, boilerplate codes, and
    * wrong-language docs all spike OOV. The vocab is v rows → broadcast;
    * the token stream is scanned once and reduced per doc. Two keyed aggs
    * + one broadcast join; the vocab build is a TakeOrdered, not a global
    * sort.
    *
    * Output: (doc_id, n_tokens, n_oov, oov_rate).
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              v: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(Text.cleanTokens(col(textCol))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(v)
      .select(col("term"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Overlapping token-window chunking (the RAG / context-window document
    * splitter): each doc becomes ceil((n - overlap) / stride) chunks of
    * up to `chunkTokens` tokens, consecutive chunks sharing
    * `chunkTokens - stride` tokens. Entirely SCAN-LOCAL: the token array
    * is materialized once per row and sliced per chunk — no shuffle, no
    * state; short docs yield exactly one chunk, empty docs none.
    *
    * Output: (doc_id, chunk_idx, n_chunk_tokens, chunk_md5) — the hash
    * stands in for chunk text so downstream equality checks don't carry
    * the payload.
    */
  def chunkWindows(docs: DataFrame, idCol: String, textCol: String,
                   chunkTokens: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunkTokens,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    val toks = docs.select(col(idCol).as("doc_id"),
      Text.cleanTokens(col(textCol)).as("t"))
    // chunk count: 1 if n <= chunkTokens, else ceil((n - chunkTokens) /
    // stride) + 1 — chunk k starts at k*stride; the last chunk is the
    // first one whose window reaches the end, so no chunk is fully
    // contained in its predecessor (the degenerate tail a naive
    // "while start < n" loop emits)
    toks
      .withColumn("n", size(col("t")))
      .where(col("n") > 0)
      .withColumn("max_idx",
        when(col("n") <= chunkTokens, lit(0))
          .otherwise(floor((col("n") - chunkTokens + stride - 1) /
            lit(stride)).cast("int")))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("max_idx"))).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("t"), col("chunk_idx") * stride + 1, lit(chunkTokens))
          .as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
  }

  /** Content-defined chunking over the token stream (the Gear/FastCDC
    * shape — Xia et al. 2016 — applied to tokens): a chunk boundary
    * falls AFTER token p whenever the windowed polynomial hash of the
    * last `w` token values satisfies h % maskMod == 0, so boundaries
    * are a function of CONTENT, not position — an insertion shifts
    * every fixed-block frame ([[dedupSegments]]'s q126 blocks) but
    * leaves all CDC boundaries outside the edited window intact. This
    * is the storage/delta-transfer dedup primitive: chunk-hash
    * equality across near-identical docs survives prefix edits.
    *
    * Determinism & cross-engine replay: token value = first 8 md5 hex
    * digits as a long (the md5HexN convention), h = Σ tv[p−i]·base^i —
    * pure 64-bit integer arithmetic, bit-equal in DuckDB. The windowed
    * (position-independent) form is chosen over a running rolling hash
    * precisely so the oracle can compute every position independently.
    *
    * Scale shape: entirely scan-local per doc (O(len·w) hash work, all
    * inside one projection — no shuffle until the chunk-hash groupBy,
    * which is partial-aggregated). maskMod sets the expected chunk
    * length (~maskMod tokens).
    *
    * Output per `grpCol` group: n_docs, n_chunks, n_distinct_chunks
    * (within group), dup_share, mean_chunk_tokens.
    */
  def cdcChunkStats(docs: DataFrame, idCol: String, textCol: String,
                    grpCol: String, w: Int = 4, maskMod: Int = 16,
                    base: Long = 64L): DataFrame = {
    require(w >= 1 && maskMod >= 2 && base >= 2,
      s"bad CDC params w=$w maskMod=$maskMod base=$base")
    val toks = docs.select(col(idCol), col(grpCol).as("grp"),
        graft.ops.Text.cleanTokens(col(textCol)).as("t"))
      .withColumn("n", size(col("t")))
      .where(col("n") > 0)
      .withColumn("tv", transform(col("t"), t =>
        conv(substring(md5(t), 1, 8), 16, 10).cast("long")))
    def hAt(p: Column): Column =
      (0 until w).map(i => element_at(col("tv"), p - i) *
        lit((0 until i).foldLeft(1L)((a, _) => a * base))).reduce(_ + _)
    val withB = toks.withColumn("bnd",
      when(col("n") >= w,
        filter(sequence(lit(w), col("n")),
          p => hAt(p) % maskMod === 0))
        .otherwise(array().cast("array<int>")))
    // edges = 0, boundaries, n — dropping a duplicated final edge when
    // the last token is itself a boundary (a zero-length chunk
    // otherwise); bnd is ascending by construction so no sort needed
    val withE = withB.withColumn("edges",
      concat(array(lit(0)), col("bnd"),
        // try_element_at: ANSI mode throws on element_at(empty, -1)
        when(coalesce(try_element_at(col("bnd"), lit(-1)), lit(-1))
            === col("n"),
          array().cast("array<int>")).otherwise(array(col("n")))))
    val chunks = withE.select(col("grp"),
        explode(transform(sequence(lit(2), size(col("edges"))), i =>
          struct(
            md5(concat_ws(" ", slice(col("t"),
              element_at(col("edges"), i - 1) + 1,
              element_at(col("edges"), i) -
                element_at(col("edges"), i - 1)))).as("chunk_md5"),
            (element_at(col("edges"), i) -
              element_at(col("edges"), i - 1)).as("len"))))
          .as("c"),
        col(idCol))
      .select(col("grp"), col(idCol), col("c.chunk_md5"), col("c.len"))
    val perHash = chunks.groupBy("grp", "chunk_md5")
      .agg(count(lit(1)).as("cnt"), sum(col("len")).as("len_sum"))
    val nDocs = toks.groupBy("grp").agg(countDistinct(col(idCol))
      .as("n_docs"))
    perHash.groupBy("grp")
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("len_sum")).as("tok_total"))
      .join(nDocs, "grp")
      .select(col("grp").as("source"), col("n_docs"), col("n_chunks"),
        col("n_distinct_chunks"),
        Num.floorAt((col("n_chunks") - col("n_distinct_chunks"))
          .cast("double") / col("n_chunks"), 6).as("dup_share"),
        Num.floorAt(col("tok_total").cast("double") / col("n_chunks"), 4)
          .as("mean_chunk_tokens"))
  }

  /** Corpus-wide exact SEGMENT-level dedup (the line/paragraph dedup pass
    * of CCNet / RefinedWeb, generalized to fixed token blocks because this
    * corpus' text carries no newlines): split every doc into
    * non-overlapping `segTokens`-token segments, keep only the FIRST
    * occurrence of each distinct segment corpus-wide (order = (doc_id,
    * chunk_idx) — deterministic), and report per-doc survival.
    *
    * Shape at scale: segmentation is scan-local ([[chunkWindows]] with
    * stride = chunk); first-occurrence is ONE row_number window keyed on
    * the segment hash (partition fan-in bounded by a segment's duplication
    * count — the same bound any keep-first dedup has), then one doc-keyed
    * agg. Nothing is all-pairs; the segment payload never shuffles (only
    * its md5 does).
    *
    * Output: (doc_id, n_segments, n_kept, kept_share).
    */
  def dedupSegments(docs: DataFrame, idCol: String, textCol: String,
                    segTokens: Int): DataFrame = {
    val segs = chunkWindows(docs, idCol, textCol, segTokens, segTokens)
    val w = Window.partitionBy("chunk_md5")
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    segs.withColumn("rn", row_number().over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_share",
        col("n_kept").cast("double") / col("n_segments"))
  }

  /** Per-doc mean log2 probability under the corpus' own unigram MLE
    * language model — the classic cheap perplexity proxy (a KenLM-style
    * quality filter without shipping a model: docs of rare/gibberish
    * tokens score low, boilerplate scores high). p(w) = tf(w) / N over the
    * whole corpus.
    *
    * Shape at scale: term frequencies via `groupBy(term).count()` joined
    * back onto a CHECKPOINTED (doc, term) frame — the [[dupNgramShare]]
    * df-pass skeleton. NOT a count window over the term: stopwords are
    * the hottest keys in any corpus ("the" ~5% of English tokens), and a
    * count window has no partial aggregation, so one reducer would buffer
    * 5% of a 100 TB token stream; groupBy+count pre-combines map-side and
    * the join back streams under AQE skew-split. N is a broadcast 1-row
    * crossJoin; one doc-keyed agg closes. The mean is floored at 6 dp so
    * cross-engine last-ulp drift in log2/avg cannot flip the hash.
    *
    * Output: (doc_id, n_tokens, mean_log2p).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(Text.cleanTokens(col(textCol))).as("term"))
      .localCheckpoint()
    val total = toks.agg(count(lit(1)).cast("double").as("n_total"))
    val tf = toks.groupBy("term").agg(count(lit(1)).as("tf"))
    toks.join(tf, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        Num.floorAt(avg(log2(col("tf") / col("n_total"))), 6)
          .as("mean_log2p"))
  }

  /** Per-doc mean log₂ probability under an INTERPOLATED BIGRAM model —
    * the next rung above [[unigramLogProb]] on the cheap-perplexity
    * ladder (a unigram model scores scrambled text and fluent text
    * identically; word-order-aware bigrams separate them — the actual
    * failure mode of template/spun content). Jelinek–Mercer smoothing:
    *   p(w_i | w_{i−1}) = λ·c(w_{i−1} w_i)/c(w_{i−1}·) + (1−λ)·tf(w_i)/N
    * with c(w·) the bigram-CONTEXT count (Σ_b c(w b), re-aggregated
    * from the bigram frame, not tf — the last token of each doc is a
    * context of nothing).
    *
    * Shape at scale: the q127 df-pass skeleton twice over — the
    * (doc, bigram) stream is localCheckpoint'd once; bigram tf and
    * context counts are partial-aggregated `groupBy().count()` frames
    * joined back (hot boilerplate bigrams pre-combine map-side, never a
    * count window); unigram tf joins on the bigram's second token; N is
    * a broadcast 1-row crossJoin. Per-term log₂ values floor at 9 dp
    * and sum through decimal, so the per-doc mean is shuffle-order
    * exact. Docs with < 2 tokens are absent (no bigrams to score).
    *
    * Output: (doc_id, n_bigrams, mean_log2p), mean floored 6 dp.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    lambda: Double = 0.5): DataFrame = {
    require(lambda > 0 && lambda < 1, s"need 0 < lambda < 1, got $lambda")
    val toks = docs.select(col(idCol).as("doc_id"),
      Text.cleanTokens(col(textCol)).as("t"))
    val uni = toks.select(explode(col("t")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cu"))
    val nTotal = toks.agg(sum(size(col("t"))).cast("double").as("n"))
    val bg = toks
      .select(col("doc_id"), explode(Dedup.shingles(col("t"), 2)).as("bg"))
      .select(col("doc_id"), col("bg"),
        split(col("bg"), " ").getItem(0).as("w1"),
        split(col("bg"), " ").getItem(1).as("w2"))
      .localCheckpoint() // feeds tf, contexts, AND the scoring join
    val bgtf = bg.groupBy("bg").agg(count(lit(1)).as("cbg"))
    val ctx = bg.groupBy(col("w1")).agg(count(lit(1)).as("cctx"))
    val p = lit(lambda) * col("cbg") / col("cctx") +
      lit(1.0 - lambda) * col("cu") / col("n")
    bg.join(bgtf, Seq("bg"))
      .join(ctx, Seq("w1"))
      .join(uni.withColumnRenamed("term", "w2"), Seq("w2"))
      .crossJoin(broadcast(nTotal))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(Num.floorAt(log2(p), 9).cast("decimal(28,9)"))
          .cast("double") / count(lit(1))).as("__m"))
      .select(col("doc_id"), col("n_bigrams"),
        Num.floorAt(col("__m"), 6).as("mean_log2p"))
  }

  /** CCNet-style quality buckets: rank every doc by its language-model
    * score ([[bigramLogProb]]) and cut the corpus into head / middle /
    * tail THIRDS — the public CCNet recipe (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data") keeps the perplexity-head for pretraining and drops
    * or downweights the tail; the bucket summary (count, score range,
    * token mass per bucket) is what the mixture designer reads.
    *
    * Bucket edges are RANK-SELECTED (the q178 value-domain rule on the
    * score domain): exact tercile cuts with deterministic ties —
    * (score, doc_id) ordering — never an ntile whose tie handling is
    * partition-dependent. The rank window runs over |docs| scored rows
    * (one spillable sort); everything else is keyed aggs.
    *
    * Output: (bucket, n_docs, min_score, max_score, total_tokens) —
    * bucket 0 = head (highest mean log-prob = most fluent), 2 = tail.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    perplexityBucketsFromScores(
      bigramLogProb(docs, idCol, textCol).localCheckpoint())

  /** [[perplexityBuckets]] over a PRE-BUILT score frame
    * (doc_id, n_bigrams, mean_log2p) — the artifact-store path: score
    * the corpus once ([[graft.ops.Artifacts.bigramScores]]), bucket
    * from the table.
    */
  def perplexityBucketsFromScores(scored: DataFrame): DataFrame = {
    val tot = scored.agg(count(lit(1)).as("n"))
    val byScore = Window.orderBy(col("mean_log2p").desc,
      col("doc_id").asc)
    scored
      .withColumn("rk", row_number().over(byScore))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("mean_log2p"), col("n_bigrams"),
        // bucket = how many tercile edges sit at-or-before my rank:
        // floor grid identical to the q178 edge rule at k = 3
        (when(col("rk") > expr("(n - 1) * 2 div 3 + 1"), 2)
          .when(col("rk") > expr("(n - 1) * 1 div 3 + 1"), 1)
          .otherwise(0)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        Num.floorAt(min(col("mean_log2p")), 6).as("min_score"),
        Num.floorAt(max(col("mean_log2p")), 6).as("max_score"),
        sum(col("n_bigrams")).as("total_bigrams"))
  }

  /** Fixed weight table of the hashed-n-gram quality classifier
    * ([[ngramQualityScore]]): `QualityBuckets` 4-dp values in [-0.5, 0.5],
    * shipped as code the way a small trained linear model ships with a
    * pipeline (the VALUES are a stand-in; the OPERATOR — hash, lookup,
    * mean, sigmoid — is what production swaps real weights into). Kept as
    * decimal STRINGS so Spark and the DuckDB oracle parse the identical
    * literals.
    */
  val QualityBuckets = 64
  val QualityBias = "-0.05"
  val QualityWeights: IndexedSeq[String] = Vector(
    "-0.3734", "-0.4054", "-0.0323", "0.1766", "-0.04", "0.2299", "-0.222", "-0.0005",
    "0.4069", "-0.2153", "0.34", "0.237", "0.2365", "0.1727", "0.0406", "-0.3761",
    "-0.3987", "0.4765", "0.377", "-0.3664", "0.3721", "0.4601", "0.0857", "0.1603",
    "0.2202", "-0.3862", "0.0815", "-0.1151", "0.3068", "0.2258", "0.3519", "0.4143",
    "0.1224", "0.0902", "0.0214", "0.3296", "-0.309", "-0.2145", "-0.2941", "-0.062",
    "-0.1364", "-0.2311", "-0.0676", "0.295", "-0.4954", "-0.4003", "0.4112", "0.2843",
    "0.3018", "-0.294", "-0.295", "0.0427", "0.2419", "-0.0108", "0.0852", "-0.3246",
    "-0.0015", "-0.2", "0.414", "-0.1732", "0.2499", "0.4901", "0.2218", "0.0098")

  /** Hashed-n-gram linear quality classifier — the fastText-style scorer
    * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    * Classification") real pipelines run AFTER the rule gates (DCLM 2024
    * uses exactly this shape as its model-based filter):
    *
    *   score = sigmoid(bias + mean over n-grams of w[h(g) mod D])
    *
    * n-grams = word unigrams + bigrams of the cleaned tokens; h = first 8
    * md5 nibbles (engine-portable); w = [[QualityWeights]]. The weight
    * lookup is an ARRAY-LITERAL index — scan-local, codegen'd, no join at
    * all (a broadcast join would also work but ships a hash relation per
    * executor for a 64-entry table) — so the whole scorer is one
    * explode + one doc-keyed agg: the same single-shuffle shape as token
    * counting, at any corpus size.
    *
    * Determinism: weights sum as DECIMAL(18,6) (order-independent), the
    * sigmoid is floored at 6 dp ([[Num.floorAt]]) so last-ulp exp()
    * differences between engines cannot flip the hash.
    *
    * Output: (doc_id, n_grams, quality_score) for docs with >= 1 token;
    * score ∈ [0, 1] (TextSpec property).
    */
  def ngramQualityScore(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val warr = array(QualityWeights.map(w =>
      lit(w).cast("decimal(18,6)")): _*)
    val toks = docs.select(col(idCol).as("doc_id"),
      Text.cleanTokens(col(textCol)).as("t"))
    val grams = toks
      .select(col("doc_id"),
        explode(concat(col("t"), Dedup.shingles(col("t"), 2))).as("g"))
    val bucket = (conv(substring(md5(col("g")), 1, 8), 16, 10)
      .cast("long") % QualityBuckets).cast("int")
    grams
      .select(col("doc_id"), element_at(warr, bucket + 1).as("wt"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("wt")).as("sw"))
      .select(col("doc_id"), col("n_grams"),
        Num.floorAt(
          lit(1.0) / (lit(1.0) +
            exp(-(lit(QualityBias).cast("double") +
              col("sw").cast("double") / col("n_grams")))), 6)
          .as("quality_score"))
  }

  /** Email pattern (RE2-compatible — identical semantics in Java regex
    * and DuckDB, so the oracle replays it exactly).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone pattern: international-ish digit runs with dashes. */
  val PhoneRe = "\\+?\\d[\\d-]{7,}\\d"

  /** Duplication rate by equi-depth length bucket — the is-duplication-
    * length-biased report a dedup policy review reads before picking a
    * survivor rule (if near-dups concentrate in short docs, a
    * keep-longest policy and a keep-first policy diverge sharply; if
    * uniform, they do not). Composes the verified pair artifact with
    * the q178 rank-selection bucketing: the k−1 exact decile edges of
    * `xCol` derive from the pre-aggregated VALUE DOMAIN (tiny ordered
    * window, never a rows-sized sort), broadcast back for one binning
    * scan; "duplicated" = the doc appears as EITHER endpoint of a
    * verified pair (a |pair-ids| broadcast semi-join probe).
    *
    * Output: (bin, n_docs, n_dup, dup_rate) — bin 0-based from the
    * shortest bucket, dup_rate floored at 6 dp.
    */
  def dupRateByBucket(docs: DataFrame, pairs: DataFrame, idCol: String,
                      xCol: String, k: Int = 10): DataFrame = {
    require(k >= 2 && k <= 10000, s"need 2 <= k <= 10000, got $k")
    val dupIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
      .distinct()
    val vc = docs.groupBy(col(xCol).as("v")).agg(count(lit(1)).as("c"))
    val cum = vc.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("v").asc)))
    val totals = docs.agg(count(lit(1)).as("n"))
    val edges = cum.crossJoin(broadcast(totals))
      .select(col("v"), col("cum"), col("n"),
        explode(sequence(lit(1), lit(k - 1))).as("q"))
      .where(col("cum") >= expr(s"(n - 1) * q div $k + 1"))
      .groupBy("q").agg(min(col("v")).as("edge"))
      .agg(sort_array(collect_list(col("edge"))).as("edges"))
    docs.select(col(idCol).as("id"), col(xCol).as("v"))
      .join(broadcast(dupIds.withColumn("__dup", lit(1L))), Seq("id"),
        "left")
      .crossJoin(broadcast(edges))
      .select(size(filter(col("edges"), e => col("v") > e)).as("bin"),
        coalesce(col("__dup"), lit(0L)).as("dup"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_dup"))
      .select(col("bin"), col("n_docs"), col("n_dup"),
        Num.floorAt(col("n_dup").cast("double") / col("n_docs"), 6)
          .as("dup_rate"))
  }

  /** PII redaction: count and replace email/phone matches. Emails are
    * redacted first; the `<EMAIL>` placeholder contains no digits, so the
    * phone pass cannot re-match inside it (order is part of the
    * contract). One projection — scan-local at any scale.
    *
    * Output: input columns + (n_pii, redacted).
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_pii",
        size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0))) +
          size(regexp_extract_all(col(textCol), lit(PhoneRe), lit(0))))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))

  /** Quantile normalization of a per-doc score WITHIN each source: maps
    * the score to its empirical percentile (rank-1)/(n-1) in [0, 1] so
    * scores from sources with different scales become comparable — the
    * calibration step before any cross-source quality threshold or
    * mixture gate (a fixed raw cutoff keeps 90% of one crawl and 10% of
    * another for no reason but scale). The rank key (score, id) is
    * total, so ranks are unique and the transform deterministic; one
    * shuffle on source, rank window per partition. At 100 TB a source
    * is large but the window carries O(1) state (row_number + one
    * partition count), spilling sorts, never materializing groups.
    *
    * Output: (id, source, score, pct) with pct floored at 6dp.
    */
  def quantileNormalize(df: DataFrame, idCol: String, srcCol: String,
                        scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col(srcCol))
      .orderBy(col(scoreCol), col(idCol))
    val n = count(lit(1)).over(Window.partitionBy(col(srcCol)))
    df.select(col(idCol), col(srcCol), col(scoreCol),
      Num.floorAt(
        (row_number().over(w) - lit(1)).cast("double") /
          greatest(n - lit(1), lit(1L)).cast("double"), 6).as("pct"))
  }

  /** Largest-remainder mixture allocation: split a fixed sample budget
    * `target` across sources proportionally to sqrt(n_docs) — the
    * sub-linear source weighting that keeps giant crawls from drowning
    * small curated sets — such that allocations are integers summing to
    * EXACTLY `target` (Hamilton's method: floor the proportional share,
    * then hand the leftover units to the largest fractional remainders,
    * ties by source name). All arithmetic is integer (weights are
    * floor(sqrt * 1000); shares use integral div/mod), so the plan is
    * hash-exact in any engine. One count aggregation, a broadcast
    * 1-row total, and a |sources|-row window — the data is scanned
    * once, the planning is metadata-sized at any scale.
    *
    * Output: (source, n_docs, weight, alloc) with sum(alloc) = target.
    */
  def mixtureAllocation(df: DataFrame, srcCol: String,
                        target: Long): DataFrame =
    largestRemainderAlloc(
      df.groupBy(col(srcCol))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("weight",
          floor(sqrt(col("n_docs").cast("double")) * 1000)
            .cast("long")),
      srcCol, target)

  /** Hamilton's-method tail shared by the allocators: `weighted` is
    * one row per source carrying an integer `weight` column; emits
    * every input column plus an integer `alloc` summing to EXACTLY
    * `target` (floor the proportional share, hand leftover units to
    * the largest div remainders, ties by source name). */
  private def largestRemainderAlloc(weighted: DataFrame, srcCol: String,
                                    target: Long): DataFrame = {
    require(target >= 0, s"bad target $target")
    val keep = weighted.columns.map(col).toSeq
    // the weight total and the target·weight product run through
    // DECIMAL(38,0): with BIGINT arithmetic a large corpus silently
    // WRAPS in non-ANSI Spark where the DuckDB oracle throws (r15
    // advice — q307's micro-token weights cross 2⁶³ near ~9.2e12
    // source tokens, inside the 100 TB contract). DECIMAL keeps both
    // engines exact; `div` on decimals still returns BIGINT, and base
    // ≤ target always fits. Bit-equal to the old integer path within
    // the old bounds.
    val tot = weighted
      .agg(sum(col("weight").cast("decimal(38,0)")).as("wsum"))
    val based = weighted.crossJoin(broadcast(tot))
      // the target·weight product gets the same LOUD overflow guard as
      // the mass sum (r16 advice): past ~1e38 a DECIMAL(38,0) product
      // goes NULL silently in non-ANSI Spark where the DuckDB oracle
      // throws — raise_error instead of corrupt allocations. Within
      // the bound the value is bit-identical to the unguarded product.
      .withColumn("prod",
        expr(s"CAST($target AS DECIMAL(38,0)) * weight"))
      .withColumn("prod",
        when(col("prod").isNull && col("weight").isNotNull,
          raise_error(concat(
            lit("largestRemainderAlloc: target*weight exceeds " +
              "DECIMAL(38,0) for source "), col(srcCol).cast("string"),
            lit(" — re-scale the weights before allocating"))))
          .otherwise(col("prod")))
      .withColumn("base", expr("prod div wsum"))
      .withColumn("rem", expr("prod % wsum"))
    val leftover = based.agg((lit(target) - sum(col("base"))).as("r"))
    val w = Window.orderBy(col("rem").desc, col(srcCol))
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(w))
      .select(keep :+
        (col("base") + when(col("rk") <= col("r"), 1L).otherwise(0L))
          .as("alloc"): _*)
  }

  /** [[mixtureAllocation]] with the sqrt damping applied to per-source
    * MASS (the sum of an integer per-row weight column) instead of doc
    * counts — the allocator the dedup-discounted mixture needs: a
    * source's quota should follow its EFFECTIVE token mass
    * (q303's Σ n_tok/|cluster|), not its raw document count, or
    * near-duplicate-heavy sources are over-allocated exactly in
    * proportion to how duplicated they are. Same integer freezing
    * (weight = floor(sqrt(mass)·10³)) and Hamilton tail, so the plan
    * stays hash-exact cross-engine.
    *
    * Output: (source, mass, weight, alloc) with sum(alloc) = target.
    */
  def mixtureAllocationByMass(df: DataFrame, srcCol: String,
                              weightCol: String,
                              target: Long): DataFrame =
    largestRemainderAlloc(
      df.groupBy(col(srcCol))
        // mass is summed through DECIMAL(38,0) — exact past 2⁶³ —
        // then frozen back to the BIGINT the contract emits behind a
        // LOUD guard (r15 advice): with a plain long sum, a source
        // past ~9.2e18 micro-tokens (~37 TB of text at q307's
        // n_tok·10⁶ weights — inside the 100 TB scale contract) wraps
        // SILENTLY in non-ANSI Spark exactly where the DuckDB oracle
        // throws on its BIGINT cast. raise_error keeps both engines
        // loudly divergence-free; within the bound the value is
        // bit-identical to the old sum. (The mixtureTemperatures
        // guard discipline, applied to mass.)
        .agg(sum(col(weightCol).cast("decimal(38,0)")).as("dmass"))
        .withColumn("mass",
          when(col("dmass") >
              lit(new java.math.BigDecimal(Long.MaxValue)),
            raise_error(concat(
              lit("mixtureAllocationByMass: source mass exceeds " +
                "BIGINT for source "), col(srcCol).cast("string"),
              lit(" — re-scale the per-row weights before " +
                "allocating"))))
            .otherwise(col("dmass").cast("long")))
        .withColumn("weight",
          floor(sqrt(col("mass").cast("double")) * 1000).cast("long"))
        .drop("dmass"),
      srcCol, target)

  /** Temperature-damped source-mixture shares — the α-sampling knob of
    * the multilingual/multi-source pretraining recipes (mT5, GPT-3:
    * p_s ∝ n_s^α, α < 1 flattening the head so low-resource sources
    * survive). Emitted for α ∈ {1, 1/2, 1/4} side by side: the table a
    * curator reads to pick the temperature, feeding the chosen column
    * into the rate sampler (q117) or the quota allocator (q218/q274).
    *
    * Cross-engine exactness without pow(): fractional powers come from
    * composed square roots — sqrt and sqrt∘sqrt are correctly-rounded
    * IEEE ops in both engines, unlike pow(x, 0.25), whose last ulp is
    * libm-specific. Damped weights freeze to integers
    * (w = floor(damp(n)·10³)) and shares are integer divisions
    * (share_e6 = 10⁶·w div Σw) — no float normalization to agree on.
    *
    * Scale shape: one count aggregation (k rows), then k-row driver
    * math on a broadcast total. The corpus is touched once.
    *
    * Bound: the 10⁶ share multiplier over the 10³-scaled α=1 weight
    * caps n_docs at ~9·10⁹ per source (10⁹·n_docs must fit BIGINT).
    * Both engines fail LOUDLY there — DuckDB throws on BIGINT overflow
    * natively; Spark's default (non-ANSI) mode would WRAP silently, so
    * the engine plants an explicit raise_error guard on the per-source
    * count (scan-local on the k-row aggregate — zero extra passes).
    * Σ across sources then has 10³× further headroom in the t1 sum; a
    * corpus past the bound re-scales the frozen weights (drop the 10³)
    * before the share division.
    */
  def mixtureTemperatures(df: DataFrame, srcCol: String): DataFrame = {
    val counts = df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"))
    // loud-failure guard (see Bound above): default Spark wraps 64-bit
    // multiplication silently; past the bound the shares would be
    // silently wrong, so refuse instead. Never fires within the bound,
    // so the DuckDB oracle needs no twin (it throws on overflow itself).
    val w1Guarded = when(col("n_docs") > lit(9000000000L),
        raise_error(concat(
          lit("mixtureTemperatures: n_docs exceeds the 9e9 64-bit "),
          lit("headroom bound for source "), col(srcCol).cast("string"))))
      .otherwise(col("n_docs") * 1000L)
    val weighted = counts.select(col(srcCol), col("n_docs"),
      w1Guarded.as("w1"),
      floor(sqrt(col("n_docs").cast("double")) * 1000).cast("long")
        .as("w2"),
      floor(sqrt(sqrt(col("n_docs").cast("double"))) * 1000)
        .cast("long").as("w4"))
    val totals = weighted.agg(sum(col("w1")).as("t1"),
      sum(col("w2")).as("t2"), sum(col("w4")).as("t4"))
    weighted.crossJoin(broadcast(totals))
      .select(col(srcCol), col("n_docs"),
        expr("(1000000 * w1) div t1").as("share_a100_e6"),
        expr("(1000000 * w2) div t2").as("share_a50_e6"),
        expr("(1000000 * w4) div t4").as("share_a25_e6"))
  }

  /** Linear quality probe trained by full-batch gradient descent over
    * hashed bag-of-tokens features — the fastText-style quality
    * classifier every production corpus pipeline trains (label a small
    * trusted/untrusted split, fit a linear model on cheap text
    * features, score the whole corpus); here the fit itself is the
    * distributed operator, not an external library.
    *
    * Features: token md5 hashed into `buckets` count features plus one
    * constant intercept feature (index = buckets). The distributed
    * work is ONE Gram aggregation over the AUGMENTED feature vector
    * [x | y] — the label rides as one more sparse column, so a single
    * (F+2)² self-join pass yields G = XᵀX, b = Xᵀy (the y column of
    * the augmented Gram), and Σy² (its corner) together, with
    * BIGINT-exact sums (counts are integers, so unlike the PCA moment
    * pass no decimal quantum is needed; the sums are exact in any
    * order and bit-reproducible in DuckDB).
    * Training then runs on the driver over model-sized state (the
    * [[graft.ops.Sim.pcaTopComponent]] discipline): `iters` fixed
    * steps of wⱼ ← wⱼ − η·((Σₖ Gⱼₖwₖ − bⱼ)/n), every FP op sequenced
    * (matvec ascending k, update ascending j) so the DuckDB oracle
    * replays the identical arithmetic as unrolled SQL stages. η is
    * data-derived and replayable: 1/trace(G/n), and trace ≥ λmax
    * makes the iteration-bounded descent stable on any input.
    * In-sample MSE = (wᵀGw − 2wᵀb + Σy²)/n comes free from the same
    * collected state (Σy² = Σy = the intercept row of b for 0/1
    * labels) — the probe's quality is part of the output, not a
    * separate pass.
    *
    * 100 TB shape: the Gram pass shuffles at most (F+1)² ≈ 10³ cells
    * per task after map-side partial aggregation — the per-doc
    * bucket-pair expansion (≤ nnz² ≤ (F+1)² rows per doc) is consumed
    * streaming by the hash aggregate, never materialized. Collect
    * moves (F+1)² + (F+1) longs; GD is O(F²·iters) driver FLOPs. For
    * F in the thousands, accumulate the Gram per-partition instead
    * (the covarianceMoments shape) — same sums, same oracle.
    *
    * Output: one row per feature — (bucket, weight, mse), doubles
    * floored at 9 dp; bucket = `buckets` is the intercept.
    *
    * Label contract: `label` must evaluate to 0 or 1. A NULL label
    * contributes nothing to b (the augmented column drops it) but the
    * doc still counts in n through the intercept — i.e. NULL is
    * trained as 0, not skipped; filter unlabeled docs out first if
    * that is not the intent.
    */
  def qualityProbe(docs: DataFrame, idCol: String, textCol: String,
                   label: Column, buckets: Int = 32,
                   iters: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (w, mse) =
      qualityProbeWeights(docs, idCol, textCol, label, buckets, iters)
    w.indices.map { k =>
      (k, Num.floorDouble(w(k), 9), Num.floorDouble(mse, 9))
    }.toDF("bucket", "weight", "mse")
  }

  /** Token → feature-bucket id shared by the trainer and the scorer
    * (first 12 md5 nibbles as a long, mod `buckets`).
    */
  private def tokenBucket(tok: Column, buckets: Int): Column =
    (conv(substring(md5(tok), 1, 12), 16, 10).cast("bigint")
      % buckets).cast("int")

  /** The trained state of [[qualityProbe]] — (weights, in-sample MSE),
    * UNfloored — exposed so [[qualityGate]] can score with the same
    * fit. See [[qualityProbe]] for the contract.
    */
  /** Per-doc token-feature-bucket counts — the (id, b, c) frame the
    * trainer's Gram pass AND [[qualityGate]]'s scorer both consume
    * (r18: previously each side re-ran tokenize+explode+groupBy over
    * the corpus; qualityGate now materializes this once and shares it,
    * guide §2.4).
    */
  private def tokenBucketCounts(docs: DataFrame, idCol: String,
                                textCol: String, buckets: Int)
      : DataFrame =
    docs.select(col(idCol).as("id"),
        Text.cleanTokens(col(textCol)).as("t"))
      .select(col("id"), explode(col("t")).as("tok"))
      .select(col("id"), tokenBucket(col("tok"), buckets).as("b"))
      .groupBy("id", "b").agg(count(lit(1)).as("c"))

  private[graft] def qualityProbeWeights(docs: DataFrame, idCol: String,
                                         textCol: String, label: Column,
                                         buckets: Int, iters: Int,
                                         tokCnt0: Option[DataFrame] = None)
      : (Array[Double], Double) = {
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    require(iters >= 1, s"need iters >= 1, got $iters")
    val tokCnt = tokCnt0.getOrElse(
      tokenBucketCounts(docs, idCol, textCol, buckets))
    // intercept/label rows need only (id, y) — no tokenize on this arm
    val lab = docs.select(col(idCol).as("id"), label.cast("long").as("y"))
    val dim = buckets + 1
    // augmented sparse vector [x | y]: intercept at index `buckets`,
    // the 0/1 label at index `dim` — one self-join Gram pass then
    // carries G (indices < dim), b (the y column), and Σy² (corner)
    val feats = tokCnt
      .unionByName(lab.select(col("id"),
        lit(buckets).cast("int").as("b"), lit(1L).as("c")))
      .unionByName(lab.where(col("y") =!= 0).select(col("id"),
        lit(dim).cast("int").as("b"), col("y").as("c")))
    val f1 = feats.select(col("id"), col("b").as("bi"), col("c").as("ci"))
    val f2 = feats.select(col("id"), col("b").as("bj"), col("c").as("cj"))
    val gRows = f1.join(f2, "id")
      .groupBy("bi", "bj").agg(sum(col("ci") * col("cj")).as("s"))
      .collect()
    val g = Array.ofDim[Long](dim + 1, dim + 1)
    gRows.foreach(r => g(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    val bL = Array.tabulate(dim)(j => g(j)(dim))
    // every doc carries the intercept feature, so G[ic][ic] = n — the
    // moment pass's own row count, no separate action
    val ic = buckets
    val nD = g(ic)(ic).toDouble
    require(g(ic)(ic) > 0L, "qualityProbe needs at least one document")
    var tr = 0.0
    var j = 0
    while (j < dim) { tr += g(j)(j).toDouble / nD; j += 1 }
    val eta = 1.0 / tr
    def matvec(w: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0
        var k = 0
        while (k < dim) { acc += g(i)(k).toDouble * w(k); k += 1 }
        acc
      }
    var w = Array.fill(dim)(0.0)
    for (_ <- 1 to iters) {
      val s = matvec(w)
      val nw = new Array[Double](dim)
      var i = 0
      while (i < dim) {
        nw(i) = w(i) - eta * ((s(i) - bL(i).toDouble) / nD)
        i += 1
      }
      w = nw
    }
    val s9 = matvec(w)
    var wGw = 0.0
    var wB = 0.0
    var i = 0
    while (i < dim) { wGw += w(i) * s9(i); i += 1 }
    i = 0
    while (i < dim) { wB += w(i) * bL(i).toDouble; i += 1 }
    val mse = (wGw - 2.0 * wB + bL(ic).toDouble) / nD
    (w, mse)
  }

  /** End-to-end quality gate: train the [[qualityProbe]] linear fit,
    * then SCORE every document with it and report the per-source
    * calibration + keep rate — the full classifier loop a curation
    * pipeline runs (fit on a labeled split, gate the whole corpus).
    *
    * Scoring discipline: the trained double weights are frozen to
    * integers once on the driver (w_e9 = floor(w·10⁹), the dcgWeights
    * move), so every per-doc score is an exact BIGINT dot product
    * Σ c_b·w_e9[b] + w_e9[intercept] — no float summation order for
    * engines to agree on, and the keep decision
    * (score_e9 ≥ threshold_e9) is an integer comparison. The scoring
    * pass is scan-local: bucket counts per doc, one broadcast literal
    * weight array, one per-doc sum — the corpus never joins anything
    * row-sized.
    *
    * Output per source: (source, n_docs, sum_score_e9, n_kept) — a
    * trusted-source mean far above the untrusted means = the fit
    * separates; n_kept at 0.5·10⁹ is the gate's throughput.
    */
  def qualityGate(docs: DataFrame, idCol: String, textCol: String,
                  label: Column, srcCol: String, buckets: Int = 32,
                  iters: Int = 8,
                  thresholdE9: Long = 500000000L): DataFrame = {
    // ONE tokenize+explode+bucket-count pass, shared by the trainer's
    // Gram collect (which materializes it) and the scorer below (which
    // reads the blocks back) — r18, guide §2.4; identical counts feed
    // identical arithmetic on both sides
    val tokCnt = tokenBucketCounts(docs, idCol, textCol, buckets)
      .localCheckpoint(eager = false)
    val (w, _) = qualityProbeWeights(docs, idCol, textCol, label,
      buckets, iters, Some(tokCnt))
    val wE9: Array[Long] = w.map(x => math.floor(x * 1e9).toLong)
    val wLit = array(wE9.map(lit(_)): _*)
    val tokScore = tokCnt
      .select(col("id"),
        (col("c") * element_at(wLit, col("b") + 1)).as("s"))
      .groupBy("id").agg(sum(col("s")).as("ts"))
    docs.select(col(idCol).as("id"), col(srcCol).as("source"))
      .join(tokScore, Seq("id"), "left")
      .select(col("source"),
        (coalesce(col("ts"), lit(0L)) + lit(wE9(buckets)))
          .as("score_e9"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score_e9")).as("sum_score_e9"),
        sum(when(col("score_e9") >= thresholdE9, 1L).otherwise(0L))
          .as("n_kept"))
  }
}
