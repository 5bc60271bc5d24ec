package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation-shaped operators (SURVEY.md §2.4 ops 16-22) plus the window
  * / grouping-set surface the reference lacks (§2.5) that any engine user
  * expects.
  *
  * All are single-shuffle partial+final hash aggregates or single-shuffle
  * window evaluations; pivots use explicit value lists (one pass, no
  * values-discovery job).
  */
object Agg {

  /** Group-by + pivot + null-fill (op 18; reference etl_pipeline.py:183).
    * Explicit pivot values = deterministic column order and a single pass
    * (Spark otherwise runs an extra distinct job to discover them).
    */
  def pivotCounts(df: DataFrame, rowKey: String, pivotKey: String,
                  values: Seq[String]): DataFrame =
    df.groupBy(col(rowKey)).pivot(pivotKey, values).count().na.fill(0)

  /** Top-1 by frequency with deterministic tie-break on the key (op 20;
    * reference `value_counts().idxmax()` etl_pipeline.py:197-198 — pandas
    * takes the first, i.e. smallest-key-wins after its internal sort).
    */
  def argmaxByCount(df: DataFrame, key: String): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key).asc)
      .limit(1)

  /** Top-n rows per group by an ordering — rank window, single shuffle. */
  def topNPerGroup(df: DataFrame, partKeys: Seq[String],
                   order: Seq[Column], n: Int): DataFrame = {
    val w = Window.partitionBy(partKeys.map(col): _*).orderBy(order: _*)
    df.withColumn("rk", row_number().over(w)).where(col("rk") <= n)
  }

  /** Per-key MapType aggregate: counts of `valKey` per `rowKey`, built as
    * a real `map<string,long>` column (sorted entries → deterministic
    * iteration order) and surfaced as its canonical JSON rendering so the
    * oracle/driver can compare it as a string. Two-level hash agg: the
    * inner (rowKey, valKey) count shrinks the data before the per-rowKey
    * collect, so the collected lists are bounded by the value-domain
    * cardinality, never the row count.
    *
    * Contract: `valKey` values must not contain JSON control characters
    * (< U+0020) — to_json escapes them, and the oracle's string rendering
    * only mirrors the backslash/quote escapes.
    */
  def mapCounts(df: DataFrame, rowKey: String, valKey: String): DataFrame =
    df.groupBy(col(rowKey), col(valKey)).agg(count(lit(1)).as("n"))
      .groupBy(col(rowKey))
      .agg(to_json(map_from_entries(array_sort(
        collect_list(struct(col(valKey), col("n"))))))
        .as("counts_json"))

  /** Share-of-total ratios: per (partKey, key) counts with each row's
    * fraction of its partition total (window sum over the already-reduced
    * counts — the window input is |distinct keys| rows, never the raw
    * table) and a frequency rank. The label-balance / source-mix report a
    * training pipeline runs per snapshot. Share is a single long/long
    * double division, floor-stabilized.
    */
  def shareOfTotal(df: DataFrame, partKey: String, key: String): DataFrame = {
    val counts = df.groupBy(col(partKey), col(key))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("share", Num.floorAt(
        col("n") / sum(col("n")).over(Window.partitionBy(partKey)), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(partKey).orderBy(col("n").desc, col(key).asc)))
  }

  /** Per-group mean/variance/stddev computed from EXACT decimal power
    * sums (sum x, sum x² in DECIMAL — order-insensitive, so bit-stable
    * under any partitioning), converted to double only for the final
    * closed-form arithmetic, which is mirrored operation-for-operation in
    * the oracle. Spark's builtin var_samp/stddev stream Welford-style
    * updates whose result depends on accumulation order AND differs from
    * DuckDB's algorithm — unusable for cross-engine equality. One
    * partial+final hash agg, same cost shape as any sum.
    */
  def exactMoments(df: DataFrame, key: String, x: String): DataFrame = {
    val xd = col(x).cast("decimal(18,2)")
    val grouped = df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(xd).as("sx"),
      sum(xd * xd).as("sxx"))
    val n = col("n")
    val sx = col("sx").cast("double")
    val sxx = col("sxx").cast("double")
    val varRaw = (sxx - sx * sx / n) / (n - 1)
    grouped.select(col(key), n,
      Num.floorAt(sx / n, 6).as("mean"),
      Num.floorAt(varRaw, 4).as("var_samp"),
      Num.floorAt(sqrt(varRaw), 4).as("stddev"))
  }

  /** Mutual information and conditional entropy between two categorical
    * columns, from exact integer contingency counts: I(A;B) = H(A) +
    * H(B) − H(A,B), plus H(B|A) = H(A,B) − H(A) — the magnitude-scaled
    * companion to the q180 χ² independence TEST (χ² says "dependent";
    * MI says how many BITS the dependence is worth, the number a
    * feature-selection or leakage check thresholds on; Cover & Thomas
    * ch. 2). All entropies use the [[graft.ops.Text.vocabEntropy]]
    * identity H = log2(n) − Σ c·log2(c) / n, so each is one sum over
    * its count frame; the joint cells are |A|×|B| rows, marginals
    * re-aggregate from the cells (the raw table is scanned ONCE), and
    * the three scalar frames broadcast-join into one output row.
    *
    * Output: (n, h_a, h_b, h_joint, mi, h_b_given_a), bits, 6dp.
    */
  def mutualInformation(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.groupBy(col(a), col(b)).agg(count(lit(1)).as("c"))
      .localCheckpoint() // referenced three times (joint + 2 marginals)
    def ent(counts: DataFrame): DataFrame =
      counts.agg(sum(col("c")).as("n"),
        sum(col("c").cast("double") * log2(col("c").cast("double")))
          .as("s"))
    val ja = ent(cells).select(col("n"), col("s").as("s_joint"))
    val ma = ent(cells.groupBy(col(a)).agg(sum(col("c")).as("c")))
      .select(col("s").as("s_a"))
    val mb = ent(cells.groupBy(col(b)).agg(sum(col("c")).as("c")))
      .select(col("s").as("s_b"))
    val j = ja.crossJoin(broadcast(ma)).crossJoin(broadcast(mb))
    val n = col("n").cast("double")
    def h(s: Column): Column = log2(n) - s / n
    j.select(col("n"),
      Num.floorAt(h(col("s_a")), 6).as("h_a"),
      Num.floorAt(h(col("s_b")), 6).as("h_b"),
      Num.floorAt(h(col("s_joint")), 6).as("h_joint"),
      Num.floorAt(h(col("s_a")) + h(col("s_b")) - h(col("s_joint")), 6)
        .as("mi"),
      Num.floorAt(h(col("s_joint")) - h(col("s_a")), 6)
        .as("h_b_given_a"))
  }

  /** Functional-dependency audit for one candidate FD `lhs -> rhs`: one
    * row with the lhs-key count, how many keys violate (map to more than
    * one distinct rhs), the worst key's rhs fan-out, and the verdict.
    * This is schema profiling — the check a warehouse runs before
    * trusting a column as a dimension key or a join denormalization
    * (TANE/FastFD discover FDs; auditing a CANDIDATE set is the
    * production-cheap form). Shape at scale: one partial-aggregated
    * groupBy on (lhs) with a distinct-count of rhs, then a scalar
    * aggregate over |keys| rows — never row-pairs. Callers union audits
    * across tables into one report (q215).
    */
  def fdViolations(df: DataFrame, fdName: String, lhs: String,
                   rhs: String): DataFrame =
    df.groupBy(col(lhs))
      .agg(countDistinct(col(rhs)).as("n_rhs"))
      .agg(count(lit(1)).as("n_lhs"),
        sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("n_rhs")).as("max_rhs"))
      .select(lit(fdName).as("fd"), col("n_lhs"), col("n_violating"),
        col("max_rhs"), (col("n_violating") === 0L).as("holds"))

  /** Mergeable moment STATE of one frame: per-key (n, Σx, Σx²) with the
    * sums carried as exact decimals, tagged with a `side` label. The
    * state is the incremental-maintenance contract a 100 TB warehouse
    * refresh runs on: states are associative/commutative under plain
    * addition (decimal adds are exact, so merge(standing, delta) is
    * bit-identical to a full recompute — the property IEEE double sums
    * do NOT have), tiny (one row per key), and composable across
    * arbitrarily many ingest batches. [[incrementalMoments]] is the
    * merge+finalize; q212 pins merge == full against the oracle.
    *
    * Quantization contract: `x` is cast to DECIMAL(18, `scale`) before
    * summation — exact for data already on that grid (TPC-H prices at
    * the default scale = 2), a deliberate rounding for anything finer.
    * Pass the column's native scale; the merge == full guarantee holds
    * against an oracle applying the identical cast.
    */
  def momentState(df: DataFrame, key: String, x: String,
                  side: String, scale: Int = 2): DataFrame = {
    require(scale >= 0 && scale <= 8, s"bad scale $scale")
    val xd = col(x).cast(s"decimal(18,$scale)")
    df.groupBy(col(key)).agg(
        count(lit(1)).as("n"),
        sum(xd).as("sx"),
        sum(xd * xd).as("sxx"))
      .withColumn("side", lit(side))
  }

  /** Incremental aggregate maintenance: merge the [[momentState]]s of a
    * STANDING corpus and an ingest DELTA by plain per-key addition, then
    * finalize mean/variance with [[exactMoments]]'s exact formulas. The
    * full table is never rescanned — at scale the standing state is a
    * stored table (the Artifacts-layer shape) and each refresh costs one
    * pass over the batch plus a state-sized merge. Per-side row counts
    * are carried through as the refresh audit trail. `scale` is the
    * [[momentState]] quantization grid — both sides MUST use the same.
    */
  def incrementalMoments(standing: DataFrame, delta: DataFrame,
                         key: String, x: String,
                         scale: Int = 2): DataFrame = {
    val states = momentState(standing, key, x, "standing", scale)
      .unionAll(momentState(delta, key, x, "delta", scale))
    val g = states.groupBy(col(key)).agg(
      sum(when(col("side") === "standing", col("n")).otherwise(0L))
        .as("n_standing"),
      sum(when(col("side") === "delta", col("n")).otherwise(0L))
        .as("n_delta"),
      sum(col("n")).as("n"),
      sum(col("sx")).as("msx"),
      sum(col("sxx")).as("msxx"))
    val n = col("n")
    val sx = col("msx").cast("double")
    val sxx = col("msxx").cast("double")
    g.select(col(key), col("n_standing"), col("n_delta"), n,
      Num.floorAt(sx / n, 6).as("mean"),
      Num.floorAt((sxx - sx * sx / n) / (n - 1), 4).as("var_samp"))
  }

  /** Per-group Pearson correlation from exact decimal power sums (see
    * [[exactMoments]] for why not the builtin corr()). Single pass, five
    * decimal sums, closed form in double.
    */
  def exactCorr(df: DataFrame, key: String, x: String,
                y: String): DataFrame = {
    val xd = col(x).cast("decimal(18,2)")
    val yd = col(y).cast("decimal(18,2)")
    val g = df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(xd).as("sx"), sum(yd).as("sy"),
      sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"),
      sum(xd * yd).as("sxy"))
    val n = col("n")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sxx, syy) = (col("sxx").cast("double"), col("syy").cast("double"))
    val sxy = col("sxy").cast("double")
    g.select(col(key), n,
      Num.floorAt(
        (n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        .as("corr"))
  }

  /** Chi-square test of independence between two categorical columns
    * (Pearson 1900) — the metadata-audit companion to [[benfordProfile]]:
    * is `lang` independent of `source`, or does some source's scraper
    * mislabel languages? Observed counts are one partial-aggregated
    * (a, b) agg; marginals re-aggregate it; expected = row·col/n joins
    * back via the two broadcast marginal frames. Cells with OBSERVED
    * zero never materialize, so their contribution ((0−E)²/E = E) is
    * added in closed form: Σ_{all cells} E = n, hence the correction
    * is n − Σ_{observed} E. Per-cell doubles are floored at 9 dp and
    * summed through DECIMAL(28,9) (order-free, cross-engine exact —
    * the q160 contract), one final 6 dp floor.
    *
    * Output: one row — (n, n_cells, dof, chi2_total); compare against
    * the caller's critical value for the dof.
    */
  def chi2Independence(df: DataFrame, a: String, b: String): DataFrame = {
    val obs = df.groupBy(col(a).as("va"), col(b).as("vb"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint() // feeds marginals AND the term join
    val ra = obs.groupBy("va").agg(sum(col("o")).as("ta"))
    val rb = obs.groupBy("vb").agg(sum(col("o")).as("tb"))
    val n = obs.agg(sum(col("o")).as("n"), count(lit(1)).as("n_cells"))
    val na = ra.agg(count(lit(1)).as("ka"))
    val nb = rb.agg(count(lit(1)).as("kb"))
    val e = col("ta").cast("double") * col("tb") / col("n")
    def decSum(c: Column) =
      sum(Num.floorAt(c, 9).cast("decimal(28,9)")).cast("double")
    val terms = obs.join(broadcast(ra), Seq("va"))
      .join(broadcast(rb), Seq("vb"))
      .crossJoin(broadcast(n.select("n")))
      .agg(decSum((col("o") - e) * (col("o") - e) / e).as("chi2obs"),
        decSum(e).as("esum"))
    n.crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .crossJoin(broadcast(terms))
      .select(col("n"), col("n_cells"),
        ((col("ka") - 1) * (col("kb") - 1)).as("dof"),
        Num.floorAt(col("chi2obs") + (col("n") - col("esum")), 6)
          .as("chi2_total"))
  }

  /** Equi-depth (equal-frequency) histogram of a numeric column — the
    * feature-binning / range-partition-planning profile: `k` bins each
    * holding ≈ n/k rows, edges at the exact rank-selected k-quantiles.
    * Duplicated mass distorts equal depth (ties cannot split) — that
    * is the semantics, not an error.
    *
    * Shape at scale: the rank selection runs over the PRE-AGGREGATED
    * value histogram (`groupBy(value).count` — full partial
    * aggregation), so the one global cumulative window sees the
    * DISTINCT-VALUE DOMAIN, not the row count — the q15 single-
    * partition-over-distinct-keys bound (2-dp money domain: thousands
    * of rows whatever the corpus). Edges are k−1 values collected into
    * a 1-row broadcast array (the Sim-centroids driver-data contract);
    * binning is one scan with an array filter; bin stats partial-agg.
    *
    * Output: (bin, n, lo, hi) — lo/hi floored 4 dp; bins with no rows
    * absent.
    */
  def equiDepthHistogram(df: DataFrame, x: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 10000, s"need 2 <= k <= 10000, got $k")
    val vc = df.groupBy(col(x).as("v")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("v").asc)
    val cum = vc.withColumn("cum", sum(col("c")).over(wv))
    val totals = df.agg(count(lit(1)).as("n"))
    val edges = cum.crossJoin(broadcast(totals))
      .select(col("v"), col("cum"), col("n"),
        explode(sequence(lit(1), lit(k - 1))).as("q"))
      .where(col("cum") >= expr(s"(n - 1) * q div $k + 1"))
      .groupBy("q").agg(min(col("v")).as("edge"))
      .agg(sort_array(collect_list(col("edge"))).as("edges"))
    df.select(col(x).as("v")).crossJoin(broadcast(edges))
      .select(size(filter(col("edges"), e => col("v") > e)).as("bin"),
        col("v"))
      .groupBy("bin").agg(count(lit(1)).as("n"),
        Num.floorAt(min(col("v")), 4).as("lo"),
        Num.floorAt(max(col("v")), 4).as("hi"))
  }

  /** Pairwise Pearson correlation MATRIX over `cols` — the
    * feature-redundancy profile a pipeline runs before model training
    * (highly-correlated features double-count in mixtures and models).
    * ALL power sums for ALL pairs accumulate in ONE scan (the
    * [[exactCorr]] decimal-exact state, widened): one partial+final
    * agg whatever the input size, then the k(k−1)/2 closed forms
    * evaluate off the single 1-row frame (checkpointed — the scan
    * never re-runs per pair). The sums are mergeable state (q116
    * contract): per-shard matrices union exactly.
    *
    * Output: (col_a, col_b, n, corr) for a < b positions, floored 6 dp.
    */
  def exactCorrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"need >= 2 distinct columns, got $cols")
    def d(c: String) = col(c).cast("decimal(18,2)")
    val aggs = Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(d(c)).as(s"s_$c")) ++
      cols.map(c => sum(d(c) * d(c)).as(s"ss_$c")) ++
      (for (i <- cols.indices; j <- i + 1 until cols.size)
        yield sum(d(cols(i)) * d(cols(j)))
          .as(s"sp_${cols(i)}_${cols(j)}"))
    // lazy: the one-row power-sum state persists at the first pair
    // branch's read, inside the query's own action (was an eager
    // construction-time job — q177 measured ~70% "plan"-time for what
    // is really this scan)
    val g = df.agg(aggs.head, aggs.tail: _*).localCheckpoint(eager = false)
    val pairs = for (i <- cols.indices; j <- i + 1 until cols.size)
      yield {
        val (a, b) = (cols(i), cols(j))
        val n = col("n")
        val sx = col(s"s_$a").cast("double")
        val sy = col(s"s_$b").cast("double")
        val sxx = col(s"ss_$a").cast("double")
        val syy = col(s"ss_$b").cast("double")
        val sxy = col(s"sp_${a}_$b").cast("double")
        g.select(lit(a).as("col_a"), lit(b).as("col_b"), n,
          Num.floorAt(
            (n * sxy - sx * sy) /
              (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
            .as("corr"))
      }
    pairs.reduce(_ unionByName _)
  }

  /** Per-group ordinary least squares y = slope·x + intercept from the
    * same exact decimal power sums as [[exactCorr]] — one pass, five
    * decimal sums, closed forms evaluated once in double and floored.
    * r2 is the squared Pearson correlation (single-regressor identity),
    * so the goodness-of-fit shares the numerator/denominator products
    * with the slope instead of a second residual pass. The mergeable-
    * state shape: the five sums union across shards/days exactly
    * (q116's incremental-aggregation contract applies verbatim).
    */
  def exactOls(df: DataFrame, key: String, x: String,
               y: String): DataFrame = {
    val xd = col(x).cast("decimal(18,2)")
    val yd = col(y).cast("decimal(18,2)")
    val g = df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(xd).as("sx"), sum(yd).as("sy"),
      sum(xd * xd).as("sxx"), sum(yd * yd).as("syy"),
      sum(xd * yd).as("sxy"))
    val n = col("n")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sxx, syy) = (col("sxx").cast("double"), col("syy").cast("double"))
    val sxy = col("sxy").cast("double")
    val cov = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    g.select(col(key), n,
      Num.floorAt(cov / varx, 6).as("slope"),
      Num.floorAt((sy - (cov / varx) * sx) / n, 4).as("intercept"),
      Num.floorAt((cov / varx) * (cov / vary), 6).as("r2"))
  }

  /** Neyman allocation: split a sampling budget across strata
    * proportionally to N_h·σ_h — the variance-minimizing allocation for
    * stratified estimation (Neyman 1934), which is how a labeling or
    * eval budget should actually be spent across sources/languages
    * (uniform and proportional allocation both waste budget on
    * low-variance strata). σ_h comes from the [[exactMoments]] decimal
    * power sums, so the allocation is deterministic and mergeable
    * across shards; zero-variance and single-row strata get weight 0
    * (a constant stratum needs one probe, not a share — callers add
    * their floor).
    *
    * One keyed agg (the moment sums) + one broadcast scalar for the
    * Σ N·σ normalizer — |strata| rows after the first agg. Floors on
    * the emitted doubles; the sample count uses floor (DuckDB CAST
    * rounds, Spark truncates).
    *
    * Output: (stratum, n_rows, stddev, alloc_weight, n_sample).
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
                       valueCol: String, budget: Long): DataFrame = {
    val xd = col(valueCol).cast("decimal(18,2)")
    val g = df.groupBy(col(stratumCol).as("stratum")).agg(
      count(lit(1)).as("n"), sum(xd).as("sx"), sum(xd * xd).as("sxx"))
    val (sx, sxx) = (col("sx").cast("double"), col("sxx").cast("double"))
    // sample stddev; 0 for degenerate strata so they drop out of the
    // allocation instead of poisoning it with NaN
    val sd = when(col("n") > 1,
        sqrt((sxx - sx * sx / col("n")) / (col("n") - 1)))
      .otherwise(lit(0.0))
    val ns = g.select(col("stratum"), col("n"),
      (col("n") * sd).as("nsd"), sd.as("sd"))
    val norm = ns.agg(sum(col("nsd")).as("z"))
    ns.crossJoin(broadcast(norm))
      .select(col("stratum"), col("n").as("n_rows"),
        Num.floorAt(col("sd"), 4).as("stddev"),
        Num.floorAt(col("nsd") / col("z"), 6).as("alloc_weight"),
        floor(col("nsd") / col("z") * budget).cast("long")
          .as("n_sample"))
  }

  /** Deterministic WEIGHTED sample (A-Res, Efraimidis–Spirakis): rank
    * rows by ln(u)/w descending — the monotonic equivalent of the
    * classic u^(1/w) key (both maximize exp(ln(u)/w)), chosen because
    * u^(1/w) compresses all keys against 1.0 for large weights and a
    * floor-stabilized comparison would collapse them, while ln(u)/w
    * keeps ~1e-7 spacing at 8-dp floors. u is a 48-bit md5-derived
    * uniform — no PRNG state, bit-identical in Spark and DuckDB, so the
    * sample is reproducible across runs AND engines. Inclusion
    * probability ∝ weight; plan is one TakeOrderedAndProject (no global
    * sort). The training-data curation shape: sample long documents
    * more often without giving up determinism.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     n: Int): DataFrame = {
    // u in (0,1]: (v + 1) / 2^48 over the first 12 md5 nibbles
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("double") + 1) / 281474976710656.0
    val key = log(u) / col(weightCol)
    // weights must be > 0 for A-Res: a negative weight would flip the key
    // sign and deterministically outrank every valid row, a zero weight
    // divides to null — filter rather than silently mis-sample
    df.where(col(weightCol) > 0)
      .withColumn("sample_key", Num.floorAt(key, 8))
      .orderBy(col("sample_key").desc, col(idCol).asc)
      .limit(n)
      .drop("sample_key")
  }

  /** Incremental-aggregation STATE: per-key mergeable partial aggregates
    * (count, DECIMAL sum, min, max) — the materialized-view-maintenance
    * pattern. A 100 TB fact table is never re-aggregated from scratch on
    * each ingest batch: the standing state (|keys| rows, not |rows|) is
    * merged with the new batch's state via [[mergeAggStates]], and because
    * every component is associative+commutative (DECIMAL sum is
    * order-insensitive, unlike double), merge-of-parts is bit-identical to
    * a full recompute — which is exactly what the q116 oracle checks.
    * One partial+final hash agg over the input.
    */
  def aggState(df: DataFrame, key: String, x: String): DataFrame = {
    val xd = col(x).cast("decimal(18,2)")
    df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(xd).as("sx"),
      min(xd).as("mn"),
      max(xd).as("mx"))
  }

  /** Merge incremental-aggregation states (see [[aggState]]): union the
    * state tables and re-reduce per key. Cost ∝ total state rows (|keys| ×
    * #states), independent of the row counts that produced them — the
    * whole point of incremental maintenance at scale.
    */
  def mergeAggStates(states: Seq[DataFrame], key: String): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col(key)).agg(
        sum(col("n")).as("n"),
        sum(col("sx")).as("sx"),
        min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))

  /** Exact per-group median WITHOUT a per-group value buffer — the scale
    * mitigation for the q29/q108 exact-percentile ceiling (`percentile()`
    * holds every group value in the final agg buffer; this holds none).
    * One window pass: rank each value in its group, keep the one or two
    * middle ranks, average them — rank selection over a sort, so memory
    * per task is O(1) beyond the sort spill, and a skewed group costs a
    * disk-backed sort instead of an executor OOM. The averaged two middle
    * order statistics equal percentile_cont(0.5)'s linear interpolation,
    * so results are identical to the buffered form. Generalizes to any
    * percentile p by selecting rank floor((n-1)p)+1 (+ its neighbor).
    *
    * Ties need no tie-break: equal values at the middle ranks yield the
    * same selected multiset whatever their relative order.
    */
  def medianByRank(df: DataFrame, key: String, x: String): DataFrame = {
    val byVal = Window.partitionBy(col(key)).orderBy(col(x).asc)
    val whole = Window.partitionBy(col(key))
    df.select(col(key), col(x))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(whole))
      // lo = floor((n+1)/2), hi = ceil((n+1)/2): equal when n is odd
      .where(col("rn") === expr("(n + 1) div 2") ||
        col("rn") === expr("(n + 2) div 2"))
      .groupBy(col(key))
      .agg(max(col("n")).as("n"), avg(col(x)).as("median"))
  }

  /** Per-group MAD (median absolute deviation) — the robust scale
    * estimate outliers cannot move (breakdown point 50%, vs 0% for the
    * q98 standard deviation): median(|x − median(x)|), both medians
    * exact via [[medianByRank]]'s rank selection, so no per-group value
    * buffer exists at either stage. Pipeline: one rank window for the
    * group median (|groups| rows out, broadcast back onto the scan for
    * the deviation pass), one rank window over the deviations. Use next
    * to [[winsorize]]: MAD picks the robust center/scale, winsorize
    * enforces it.
    *
    * Output: (key, n, p50, mad), both floored at 4 dp.
    */
  def madByRank(df: DataFrame, key: String, x: String): DataFrame = {
    val med = medianByRank(df, key, x)
      .select(col(key), col("median").as("p50"))
      .localCheckpoint() // |groups| rows; feeds the dev pass AND the close
    val dev = df.select(col(key), col(x))
      .join(broadcast(med), Seq(key))
      .select(col(key), abs(col(x) - col("p50")).as("__d"))
    medianByRank(dev, key, "__d")
      .select(col(key), col("n"), col("median").as("mad"))
      .join(broadcast(med), Seq(key))
      .select(col(key), col("n"),
        Num.floorAt(col("p50"), 4).as("p50"),
        Num.floorAt(col("mad"), 4).as("mad"))
  }

  /** Per-group WEIGHTED median (lower-median convention): the smallest
    * x whose cumulative weight reaches half the group total — e.g. the
    * quantity-weighted median price, or the token-mass-weighted doc
    * length a packing planner wants (an unweighted median over docs
    * answers a different question when doc sizes vary 1000×).
    *
    * Determinism under ties: a value v qualifies iff 2·W(≤v) ≥ W, and
    * W(≤v) — the total weight at-or-below v — is invariant to the
    * intra-tie row order the window happens to see, so MIN(qualifying
    * v) is engine- and partitioning-stable even though individual tied
    * rows' running sums are not. Weights are exact BIGINTs end to end;
    * the median is an actual data value — no float arithmetic at all.
    * Same rank-family shape as [[medianByRank]] (one spillable sort
    * per group).
    *
    * Output: (key, total_weight, wmedian).
    */
  def weightedMedian(df: DataFrame, key: String, x: String,
                     w: String): DataFrame = {
    val run = Window.partitionBy(col(key)).orderBy(col(x).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy(col(key))
    df.select(col(key), col(x), col(w).cast("long").as("__w"))
      .withColumn("cum", sum(col("__w")).over(run))
      .withColumn("tw", sum(col("__w")).over(whole))
      .where(col("cum") * 2 >= col("tw"))
      .groupBy(col(key))
      .agg(max(col("tw")).as("total_weight"),
        min(col(x)).as("wmedian"))
  }

  /** Herfindahl–Hirschman concentration of a weight column over groups
    * — the is-one-source-dominating-the-mixture monitor: HHI =
    * Σ share² ∈ (0, 1], effective source count = 1/HHI (the "how many
    * equal sources would look like this" reading). Shares derive from
    * exact BIGINT sums; per-group share² terms floor at 9 dp and sum
    * through decimal (order-free, the q160 contract). One keyed agg +
    * one |groups|-row close.
    *
    * Output: one row — (n_groups, total, hhi, effective_groups).
    */
  def hhiConcentration(df: DataFrame, grp: String, w: Column)
      : DataFrame = {
    val g = df.groupBy(col(grp)).agg(sum(w.cast("long")).as("m"))
      .localCheckpoint() // feeds the total AND the share terms
    val tot = g.agg(sum(col("m")).as("total"),
      count(lit(1)).as("n_groups"))
    val share = col("m").cast("double") / col("total")
    g.crossJoin(broadcast(tot))
      .agg(max(col("n_groups")).as("n_groups"),
        max(col("total")).as("total"),
        sum(Num.floorAt(share * share, 9).cast("decimal(28,9)"))
          .cast("double").as("hhiraw"))
      .select(col("n_groups"), col("total"),
        Num.floorAt(col("hhiraw"), 6).as("hhi"),
        Num.floorAt(lit(1.0) / col("hhiraw"), 4)
          .as("effective_groups"))
  }

  /** Robust per-group anomaly profile — [[madByRank]] composed into
    * q147's alarm shape: the modified z-score |x − median| /
    * (1.4826·MAD) (Iglewicz & Hoaglin 1993; 1.4826 ≈ 1/Φ⁻¹(3/4) makes
    * MAD a consistent σ estimator), flagged at the standard 3.5. Where
    * q147's mean/σ z-scores let one extreme day inflate σ and mask
    * itself, median/MAD have a 50% breakdown point — the masking-proof
    * variant. Groups with MAD 0 (constant or half-constant values)
    * flag nothing, by contract.
    *
    * Shape: the MAD pipeline's two rank windows, then the |groups|-row
    * (p50, mad) frame broadcasts back onto one counting scan. The flag
    * tests the 4 dp-FLOORED score (q147's boundary contract).
    *
    * Output: (key, n, p50, mad, n_anomalies, max_score).
    */
  def robustAnomalies(df: DataFrame, key: String, x: String,
                      thresh: Double = 3.5): DataFrame = {
    val stats = madByRank(df, key, x).localCheckpoint()
    val score = Num.floorAt(
      abs(col(x) - col("p50")) / (lit(1.4826) * col("mad")), 4)
    df.select(col(key), col(x))
      .join(broadcast(stats), Seq(key))
      .groupBy(col(key))
      .agg(max(col("n")).as("n"),
        max(col("p50")).as("p50"), max(col("mad")).as("mad"),
        sum(when(col("mad") > 0 && score > thresh, 1L).otherwise(0L))
          .as("n_anomalies"),
        max(when(col("mad") > 0, score).otherwise(0.0))
          .as("max_score"))
  }

  /** Per-group winsorization at exact rank-selected percentiles — the
    * outlier treatment feature pipelines apply before statistics that
    * outliers wreck (means, OLS, z-scores): clamp each value into
    * [p_lo, p_hi] and report the clip counts and the winsorized mean.
    * Percentile bounds come from [[medianByRank]]'s rank-selection
    * shape (rank floor((n−1)p)+1 — a single order statistic, no
    * interpolation), so no per-group value buffer exists; the bounds
    * frame is |groups| rows and broadcasts back onto the scan for the
    * clipping pass.
    *
    * Output: (key, n, p_lo, p_hi, n_clipped_lo, n_clipped_hi,
    * mean_winsorized).
    */
  def winsorize(df: DataFrame, key: String, x: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad range [$pLo, $pHi]")
    val byVal = Window.partitionBy(col(key)).orderBy(col(x).asc)
    val whole = Window.partitionBy(col(key))
    val bounds = df.select(col(key), col(x))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("n", count(lit(1)).over(whole))
      .where(col("rn") === expr(s"floor((n - 1) * $pLo) + 1") ||
        col("rn") === expr(s"floor((n - 1) * $pHi) + 1"))
      // the lower-rank statistic is <= the higher one, so min/max
      // recover (lo, hi) without carrying which rank matched
      .groupBy(col(key))
      .agg(max(col("n")).as("n"), min(col(x)).as("lo"),
        max(col(x)).as("hi"))
    val clipped = greatest(col("lo"), least(col("hi"), col(x)))
    df.select(col(key), col(x))
      .join(broadcast(bounds), Seq(key))
      .groupBy(col(key))
      .agg(max(col("n")).as("n"),
        Num.floorAt(max(col("lo")), 4).as("p_lo"),
        Num.floorAt(max(col("hi")), 4).as("p_hi"),
        sum(when(col(x) < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col(x) > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_hi"),
        // decimal accumulation (the exactOls/exactMoments contract):
        // clipped values are 2dp, so decimal(18,2) sums are EXACT and
        // shuffle-order-independent; one double division at the end
        Num.floorAt(sum(clipped.cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 4)
          .as("mean_winsorized"))
  }

  /** First-significant-digit (Benford) profile of a positive numeric
    * column — the data-forensics fingerprint: organically-grown
    * magnitudes follow log10(1+1/d); uniformly-generated or fabricated
    * values don't. A curation pipeline runs this over numeric fields of
    * scraped/submitted data as a cheap synthetic-data / fraud tell (and
    * over its own fixtures to know what "normal" looks like). The chi²
    * statistic against the Benford expectation comes with the df=8,
    * α=0.05 critical value baked into the flag.
    *
    * One digit-keyed count (9 groups, fully partial-aggregated) + one
    * broadcast total; the digit is extracted as the first character of
    * the integer part — string, not log10, so float edge cases at
    * powers of ten cannot flip a digit between engines.
    *
    * Output: (digit, n_obs, obs_share, benford_p, chi2_term,
    * chi2_total, follows_benford).
    */
  def benfordProfile(df: DataFrame, x: String): DataFrame = {
    val digit = substring(
      floor(col(x)).cast("long").cast("string"), 1, 1).cast("int")
    val counts = df.where(col(x) >= 1)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n_obs"))
      .localCheckpoint() // feeds the total agg and the final projection
    val total = counts.agg(sum(col("n_obs")).as("n"))
    val p = log10(lit(1.0) + lit(1.0) / col("digit"))
    val expected = col("n").cast("double") * p
    val term = (col("n_obs").cast("double") - expected) *
      (col("n_obs").cast("double") - expected) / expected
    val terms = counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"),
        Num.floorAt(col("n_obs").cast("double") / col("n"), 6)
          .as("obs_share"),
        Num.floorAt(p, 6).as("benford_p"),
        Num.floorAt(term, 4).as("chi2_term"),
        term.as("raw_term"))
    val chi2 = terms.agg(sum(col("raw_term")).as("c2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"), col("obs_share"),
        col("benford_p"), col("chi2_term"),
        Num.floorAt(col("c2"), 4).as("chi2_total"),
        // chi-square critical value, df = 8, alpha = 0.05
        (Num.floorAt(col("c2"), 4) < 15.5073).as("follows_benford"))
  }

  /** k-anonymity audit over a quasi-identifier tuple: the privacy
    * release check (Sweeney 2002) a governance pass runs before data
    * leaves the boundary — every equivalence class of the
    * quasi-identifiers must hold at least k rows, else the class is
    * re-identifiable. Composes with [[graft.ops.Curate.tombstoneSweep]]
    * (remove) and redaction (generalize) as the fix for failing
    * classes.
    *
    * One keyed count over the quasi-identifier tuple (fully
    * partial-aggregated — a huge class combines map-side) + one
    * broadcast scalar for the corpus-wide k_min read-off.
    *
    * Output: one row per class — (quasi-id cols…, n_rows, below_k,
    * k_min).
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Long)
      : DataFrame = {
    require(quasiIds.nonEmpty && k >= 1, s"bad args ($quasiIds, $k)")
    val classes = df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .localCheckpoint() // feeds the k_min agg and the final projection
    val kmin = classes.agg(min(col("n_rows")).as("k_min"))
    classes.crossJoin(broadcast(kmin))
      .select(quasiIds.map(col) ++ Seq(col("n_rows"),
        (col("n_rows") < k).as("below_k"), col("k_min")): _*)
  }

  /** Sketch-based per-group median with its ERROR BOUND VERIFIED IN-QUERY —
    * the third mitigation in SCALE.md's exact-percentile row, made
    * first-class. `percentile_approx` (Greenwald-Khanna summaries) keeps
    * O(accuracy * log n) state per group instead of q29's every-value
    * buffer or [[medianByRank]]'s full sort — the only percentile shape
    * whose state is both bounded AND mergeable, i.e. the 100 TB default.
    *
    * The GK guarantee (rank error <= n/accuracy) is checked inside the
    * query the way q122 checks HLL mergeability: the approx value's exact
    * rank is recomputed with one broadcast join + keyed agg, and the
    * comparison `|2*rank - n| <= 2*n/accuracy + 2` is all-integer (the +2
    * absorbs the even-n midpoint straddle and the div floor). The exact
    * median rides along so the oracle pins real values — the approx value
    * itself is NOT emitted (GK merge results are partition-order
    * sensitive; its verified BOUND is the portable fact).
    */
  def approxMedianVerified(df: DataFrame, key: String, x: String,
                           accuracy: Int = 100): DataFrame = {
    require(accuracy >= 2, s"need accuracy >= 2, got $accuracy")
    val approx = df.groupBy(col(key))
      .agg(percentile_approx(col(x), lit(0.5), lit(accuracy))
        .as("p50_approx"))
    val bound = df.join(broadcast(approx), key)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(when(col(x) <= col("p50_approx"), 1L).otherwise(0L)).as("rk"))
      .select(col(key),
        (abs(col("rk") * 2 - col("n")) <=
          expr(s"n * 2 div $accuracy") + 2).as("within_bound"))
    medianByRank(df, key, x)
      .join(bound, key)
      .select(col(key), Num.floorAt(col("median"), 4).as("p50"),
        col("n"), col("within_bound"))
  }

  /** Deterministic stratified sample: the `n` smallest md5-ranked rows per
    * stratum — reproducible across runs/engines (vs `sampleBy`, which is
    * seed- and partitioning-dependent), uniform within each stratum
    * because md5 is uniform on the id. Single shuffle on the stratum key.
    */
  def stratifiedSample(df: DataFrame, stratum: String, idCol: String,
                       n: Int): DataFrame = {
    val w = Window.partitionBy(col(stratum))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= n)
      .drop("rn")
  }

  /** Per-group Spearman rank correlation — the monotone-association
    * monitor next to [[exactCorr]]'s Pearson: Pearson chases outliers
    * and linearity; Spearman is Pearson ON RANKS, so one price spike
    * cannot manufacture correlation and any monotone relation scores
    * ±1. Standard tie handling: tied values share their AVERAGE rank.
    *
    * Exactness: average ranks are carried as DOUBLED integers
    * (2·avg_rank is always a whole number): for a row with value v,
    * 2·avg_rank = 2·rank(v) + ties(v) − 1, where rank() is the SQL
    * min-rank and ties(v) the peer count — both from ONE window per
    * axis directly on the raw rows (rank over (key ORDER BY v) plus
    * count over the RANGE-peers frame of the same spec, so Spark
    * evaluates them in a single Window exec per axis). Every power sum
    * is then an exact BIGINT→DECIMAL accumulation — shuffle-order
    * independent — and the single double division happens in the
    * closed form at the end (the [[exactCorr]] contract, with ranks
    * instead of values; the 2× scaling cancels in the correlation).
    *
    * Plan shape: ZERO joins — one shuffle on the group key, two local
    * sorts (one per axis; same partitioning, so the second window adds
    * no exchange), one partial-aggregated power-sum pass. The round-8
    * version joined the raw frame against per-axis rank tables; for a
    * near-unique axis (l_extendedprice) those tables are row-sized and
    * the two joins were the 2nd-most-expensive plan in the bench
    * (62 s worst rep). Caveat the windows inherit: per-key windows
    * serialize a group onto one task, so this shape wants group
    * cardinality ≥ cores; for very-low-cardinality keys over huge
    * groups, reduce to the per-(key,x,y) joint domain first and run
    * the same windows with count-weighted sums over that frame.
    *
    * Null handling: rows with a null `x` or `y` are dropped up front
    * (listwise deletion, the standard correlation convention and what
    * the oracle's rank joins do implicitly) — both engines share it.
    *
    * Output: (key, n, rho), floored 6 dp.
    */
  def spearmanCorr(df: DataFrame, key: String, x: String,
                   y: String): DataFrame = {
    def dblRank(c: String): Column = {
      val wr = Window.partitionBy(col(key)).orderBy(col(c).asc)
      // rank() is IntegerType: widen BEFORE doubling, or groups past
      // ~1.07e9 rows wrap the Int (the 100 TB cardinality class)
      lit(2L) * rank().over(wr).cast("long") + count(lit(1))
        .over(wr.rangeBetween(Window.currentRow, Window.currentRow)) - 1L
    }
    def d(c: Column) = c.cast("decimal(18,0)")
    val r = df.select(col(key), col(x), col(y))
      .where(col(x).isNotNull && col(y).isNotNull)
      .withColumn("rx", dblRank(x))
      .withColumn("ry", dblRank(y))
    val n = col("n").cast("double")
    def dbl(c: String) = col(c).cast("double")
    r.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(d(col("rx"))).as("sx"), sum(d(col("ry"))).as("sy"),
        sum(d(col("rx")) * d(col("rx"))).as("sxx"),
        sum(d(col("ry")) * d(col("ry"))).as("syy"),
        sum(d(col("rx")) * d(col("ry"))).as("sxy"))
      .select(col(key), col("n"),
        Num.floorAt(
          (n * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (sqrt(n * dbl("sxx") - dbl("sx") * dbl("sx")) *
              sqrt(n * dbl("syy") - dbl("sy") * dbl("sy"))), 6)
          .as("rho"))
  }

  /** The DISTRIBUTED-exact sibling of [[spearmanCorr]], pinned to the
    * same oracle: identical doubled-average-rank arithmetic, but every
    * rank window runs over the per-group VALUE DOMAIN (one keyed agg
    * first), the n/Σr/Σr² power sums come count-weighted from the
    * single-axis domains with NO join or row pass, and only the cross
    * sum Σ(rx·ry) touches row mass — as two hash joins on the
    * AGGREGATED (key, x, y) joint domain, which distribute over the
    * value keys instead of serializing per group.
    *
    * When to use which (measured, SCALE.md round 9): the window form is
    * faster when groups are small or numerous (its whole cost is one
    * exchange + two sorts, and production monitors group by
    * source/day/shard — cardinality ≫ cores); it serializes when a few
    * giant groups hold most rows (×16 self-replication onto 3 groups
    * bent it 13.7×). This form pays two joint-domain joins up front but
    * every stage hash-distributes, so a few-huge-groups input scales
    * with cores. Same exact integer discipline, bit-identical output.
    */
  def spearmanCorrDomain(df: DataFrame, key: String, x: String,
                         y: String,
                         oneLevelMaxDomain: Long = 1048576L): DataFrame = {
    // listwise-delete null pairs up front (as spearmanCorr does): the
    // groupBy domains would KEEP null values while the sxy equi-joins
    // drop them — mismatched sums on any null-bearing input
    val dfn = df.select(col(key), col(x), col(y))
      .where(col(x).isNotNull && col(y).isNotNull)
    def ranks(c: String, out: String): DataFrame = {
      val vc = dfn.groupBy(col(key), col(c).as("v"))
        .agg(count(lit(1)).as("cnt"))
      // domain cumulative with [[domainCum]]'s internal size dispatch:
      // ranks are exact longs under either physical shape, so output
      // is unchanged whichever level the domain size routes to
      domainCum(vc, key, "v", "cnt", 64, oneLevelMaxDomain)
        .select(col(key), col("v").as(c), col("cnt"),
          (lit(2) * (col("__cum") - col("cnt")) + col("cnt") + 1)
            .as(out))
    }
    def d(c: Column) = c.cast("decimal(18,0)")
    val rx = ranks(x, "rx")
    val ry = ranks(y, "ry")
    val xa = rx.groupBy(col(key)).agg(sum(col("cnt")).as("n"),
      sum(d(col("rx")) * col("cnt")).as("sx"),
      sum(d(col("rx")) * d(col("rx")) * col("cnt")).as("sxx"))
    val ya = ry.groupBy(col(key)).agg(
      sum(d(col("ry")) * col("cnt")).as("sy"),
      sum(d(col("ry")) * d(col("ry")) * col("cnt")).as("syy"))
    val joint = dfn.groupBy(col(key), col(x), col(y))
      .agg(count(lit(1)).as("cxy"))
    val xya = joint
      .join(rx.select(col(key), col(x), col("rx")), Seq(key, x))
      .join(ry.select(col(key), col(y), col("ry")), Seq(key, y))
      .groupBy(col(key))
      .agg(sum(d(col("rx")) * d(col("ry")) * col("cxy")).as("sxy"))
    val n = col("n").cast("double")
    def dbl(c: String) = col(c).cast("double")
    xa.join(ya, key).join(xya, key)
      .select(col(key), col("n"),
        Num.floorAt(
          (n * dbl("sxy") - dbl("sx") * dbl("sy")) /
            (sqrt(n * dbl("sxx") - dbl("sx") * dbl("sx")) *
              sqrt(n * dbl("syy") - dbl("sy") * dbl("sy"))), 6)
          .as("rho"))
  }

  /** The Spearman engine router, TWO-dimensional as the round-10
    * ScaleProbe finding requires (SCALE.md): group cardinality alone
    * misroutes — with near-unique measures both engines do
    * row-proportional work and the windowed form's constant factor
    * wins even at 3 giant groups (measured on lineitem sf0.1:
    * windowed 1.48 s vs domain 3.23 s at tie ratio 0.54). The domain
    * engine's edge exists only under HEAVY TIES, where the joint
    * domain collapses below the row mass (replication ×16 measured it
    * 13.7× better at ratio ≈ 0.03). So: windowed when at least one
    * group per core (per-group sorts can't idle the cluster), and
    * below that, domain ONLY when the tie ratio — distinct (key,x) +
    * distinct (key,y) over 2·rows — is under `maxDomainTieRatio`.
    * The whole preflight is ONE scan-only aggregate (three HLLs +
    * count, no shuffle of row mass); HLL error cannot misroute — the
    * regimes differ by orders of magnitude and the crossover is broad.
    */
  def spearmanEngine(df: DataFrame, key: String, x: String, y: String,
                     minGroupsForWindow: Long,
                     maxDomainTieRatio: Double = 0.25): String = {
    val r = df.agg(
      count(lit(1)).as("n"),
      approx_count_distinct(col(key)).as("nk"),
      approx_count_distinct(struct(col(key), col(x))).as("nkx"),
      approx_count_distinct(struct(col(key), col(y))).as("nky"))
      .head()
    val (n, nk, nkx, nky) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val tieRatio = if (n == 0L) 1.0 else (nkx + nky).toDouble / (2.0 * n)
    if (nk >= minGroupsForWindow || tieRatio > maxDomainTieRatio)
      "windowed"
    else "domain"
  }

  /** Per-group Spearman with AUTOMATIC engine dispatch — the seam
    * closer for the [[spearmanCorr]] / [[spearmanCorrDomain]] pair:
    * the two engines are bit-identical on every input (they share one
    * oracle) but scale oppositely — per-key windows serialize each
    * group onto one task (measured 13.7× degradation at ×16 on 3
    * giant groups), while the domain engine's two joint-domain joins
    * are wasted cost when groups are numerous and small (the common
    * monitoring shape: group by source/day/shard). A user should not
    * need to know that; this picks from a cheap cardinality preflight.
    *
    * `minGroupsForWindow` defaults to the cluster parallelism: with at
    * least one group per core the windowed engine's per-group
    * serialization cannot idle the cluster; below that, a few giant
    * groups dominate and every windowed stage bottlenecks on the
    * biggest group's single task, so the hash-distributing domain
    * engine wins. Output is bit-identical either way.
    *
    * Measured nuance (SCALE.md round 10): on NEAR-UNIQUE value domains
    * the domain engine's joint-domain joins do row-proportional work
    * too, and on a single 32-thread node its wall-clock at ×16 was
    * 1.5× the windowed engine's (37.8 s vs 25.6 s) while burning ~12×
    * the CPU-seconds — the win only materializes once cluster
    * parallelism exceeds what the few serialized sorts can use, or
    * when ties compress the domain (the round-9 replication probe:
    * 13.7× vs 1.4×). This dispatcher optimizes for the CLUSTER case:
    * the windowed engine's wall-clock is pinned at the biggest group's
    * one-task sort whatever the executor count (and a 100 TB group
    * does not sort in one task at all), so few-giant-groups routes to
    * the engine whose wall-clock divides by executors.
    */
  def spearmanAuto(df: DataFrame, key: String, x: String, y: String,
                   minGroupsForWindow: Long = -1L): DataFrame = {
    val threshold =
      if (minGroupsForWindow > 0) minGroupsForWindow
      else df.sparkSession.sparkContext.defaultParallelism.toLong
    // r18 (guide §2.4 "share one computation", r17 verdict #6): the
    // preflight and the chosen engine both start from the same
    // (key, x, y) null-filtered projection, and each paid its own
    // source scan — Probe233 measured the preflight at 0.70 s of
    // q233's 2.1 s, scan-bound. Materialize the projection ONCE
    // (lazy: the preflight's head() computes and persists it, the
    // engine reads the blocks back). Row set and engine arithmetic
    // are unchanged — both engines listwise-delete the same nulls
    // this frame already dropped.
    val dfn = df.select(col(key), col(x), col(y))
      .where(col(x).isNotNull && col(y).isNotNull)
      .localCheckpoint(eager = false)
    spearmanEngine(dfn, key, x, y, threshold) match {
      case "windowed" => spearmanCorr(dfn, key, x, y)
      case _          => spearmanCorrDomain(dfn, key, x, y)
    }
  }

  /** Two-sample Kolmogorov–Smirnov distance between the `a` and `b`
    * slices of `x` — the distribution-shift gate a mixture planner runs
    * before admitting a new source (PSI (q156) needs binning choices;
    * KS is binning-free and sensitive to ANY CDF gap). D = max over the
    * value domain of |F_a(v) − F_b(v)|, with the standard large-sample
    * α=0.05 rejection at c·sqrt((n_a+n_b)/(n_a·n_b)), c = 1.358
    * (Smirnov 1948 asymptotic).
    *
    * Scale shape: the raw scan REDUCES TO THE VALUE DOMAIN first (one
    * keyed agg → per-distinct-value counts for both sides), so the
    * ordered ECDF pass — an unavoidably total-ordered window — runs over
    * |distinct x| rows, not |rows| (the q178 equi-depth argument: for a
    * bounded domain like doc lengths this is thousands of rows whatever
    * the corpus size). Counts are exact BIGINTs; the two ECDFs divide
    * once at the close. D and the critical value floor at 6 dp BEFORE
    * the comparison so the reject flag is engine-stable at boundaries.
    *
    * Output: one row — (n_a, n_b, d_stat, crit_05, reject_05).
    */
  def ksTwoSample(df: DataFrame, grp: String, x: String,
                  a: String, b: String): DataFrame = {
    val cnt = df.where(col(grp).isin(a, b))
      .groupBy(col(x).as("v"))
      .agg(sum(when(col(grp) === a, 1L).otherwise(0L)).as("ca"),
        sum(when(col(grp) === b, 1L).otherwise(0L)).as("cb"))
    val run = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cnt.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    cnt
      .withColumn("cuma", sum(col("ca")).over(run))
      .withColumn("cumb", sum(col("cb")).over(run))
      .crossJoin(broadcast(tot))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        max(abs(col("cuma").cast("double") / col("n_a") -
          col("cumb").cast("double") / col("n_b"))).as("draw"))
      .select(col("n_a"), col("n_b"),
        Num.floorAt(col("draw"), 6).as("d_stat"),
        Num.floorAt(lit(1.358) *
          sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a") * col("n_b"))), 6).as("crit_05"))
      .withColumn("reject_05", col("d_stat") > col("crit_05"))
  }

  /** Per-group Gini coefficient of a non-negative measure — the
    * inequality monitor next to [[hhiConcentration]]: HHI asks "is one
    * GROUP dominating", Gini asks "within a group, how unequally is the
    * mass spread over rows" (a source whose token mass is 99% empty
    * stubs + 1% giant pages curates very differently from a uniform one
    * at the same mean). Rank formula on the sorted values: G =
    * 2·Σ i·x_(i) / (n·Σx) − (n+1)/n ∈ [0, 1−1/n].
    *
    * Ties need no tie-break: equal values share a tied block, and
    * Σ rn·x over a block of equal x is x·Σ rn — fixed whatever relative
    * order the window assigns. One rank window (spillable sort per
    * group, the [[medianByRank]] shape), exact BIGINT rank-weighted
    * sums, one double division at the close, floored at 6 dp. Groups
    * with zero total emit null (inequality of nothing is undefined).
    *
    * Output: (key, n, total, gini).
    */
  def giniByGroup(df: DataFrame, key: String, x: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("__x").asc)
    df.select(col(key), col(x).cast("long").as("__x"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("total"),
        sum(col("rn") * col("__x")).as("iw"))
      .select(col(key), col("n"), col("total"),
        when(col("total") > 0, Num.floorAt(
          lit(2.0) * col("iw") / (col("n") * col("total")) -
            (col("n") + lit(1.0)) / col("n"), 6)).as("gini"))
  }

  /** 2-D skyline / Pareto frontier, maximize-both sense (Börzsönyi,
    * Kossmann & Stocker 2001, "The skyline operator"): the rows no other
    * row strictly dominates — no row with x' >= x AND y' >= y that is
    * strictly greater in at least one. Exact duplicates of a frontier
    * point do not dominate each other (neither is strictly better), so
    * both survive.
    *
    * NOT the quadratic NOT-EXISTS self-join: in 2-D a point is dominated
    * iff (some strictly-larger x carries y' >= y) or (the same x carries
    * a strictly larger y), and both conditions read off ONE running max
    * over the x DOMAIN — so the plan is a hash aggregate to the
    * distinct-x frame (max y per x), one ordered prefix-max window over
    * that domain-sized frame, and an x-keyed join back. The global
    * window sorts |distinct x| rows, not the input (the q209-family
    * value-domain discipline); the input itself is touched by exactly
    * one aggregate and one join, both x-keyed shuffles. A domain too
    * large to window on one task gets range-partitioned local skylines
    * first — survivors of each range are the only rows the global pass
    * must see.
    */
  def skyline(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val perx = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
    val w = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // __mxgt = best y among STRICTLY larger x; null when x is the max
    val gt = perx.withColumn("__mxgt", max(col("__ymax")).over(w))
    df.join(gt, Seq(xCol))
      .where(col(yCol) === col("__ymax") &&
        (col("__mxgt").isNull || col(yCol) > col("__mxgt")))
      .drop("__ymax", "__mxgt")
  }

  /** Per-key cumulative counts over an ordered value DOMAIN, computed
    * TWO-LEVEL (the skylineTwoLevel discipline): for a continuous value
    * column the domain is ~the data, and a single per-key ordered
    * window is one task per key — ScaleProbe measured the bend at 10×
    * per ×16 data on q262 and 9.5× on q230. Value-range bucket the
    * domain per key (one tiny min/max broadcast), run the ordered
    * windows per (key, bucket) in parallel, and add each bucket's exact
    * LONG count offset (a buckets-sized window per key) — `__cum` is
    * bit-identical to the one-level form because offsets are integer
    * sums. `vCol` must be numeric (double-cast bucketing must be
    * monotone in the column's own ordering). Shared by
    * [[quantilesByDomain]] and [[spearmanCorrDomain]]'s rank step.
    *
    * INTERNAL DISPATCH by domain size (SCALE.md round-11's named
    * lever, implemented round 12): the two-level machinery exists for
    * domains too large to sort on one task (ScaleProbe bend 10× per
    * ×16), but below `oneLevelMaxDomain` histogram rows per key the
    * plain per-key ordered window is strictly less machinery — no
    * min/max broadcast, no offset window, no (key, bucket) join — and
    * bit-identical (exact integer sums over the same unique (key, v)
    * rows, same RANGE frame). The 1M default sits between the two
    * measured regimes: a one-task sort of ≤1M histogram rows (tens of
    * MB) is sub-second, while the ScaleProbe bend that motivated the
    * two-level form appeared at ~3M rows per key (fixture ×16); the
    * sf0.1 fixture's ~200k-per-key price domains route one-level.
    * The preflight (max per-key histogram
    * rows) needs one action, so the histogram is localCheckpoint'd
    * first — which also stops the main plan re-deriving it from the
    * raw scan per consumer; it is the REDUCED frame (|keys|·|domain|
    * rows), spillable executor storage at any scale.
    */
  private[graft] def domainCum(h: DataFrame, key: String, vCol: String,
                               cntCol: String, buckets: Int,
                               oneLevelMaxDomain: Long = 1048576L)
      : DataFrame = {
    val hc = h.localCheckpoint()
    val mxRow = hc.groupBy(col(key)).agg(count(lit(1)).as("__d"))
      .agg(max(col("__d"))).head()
    if (mxRow.isNullAt(0) || mxRow.getLong(0) <= oneLevelMaxDomain)
      return hc.withColumn("__cum", sum(col(cntCol)).over(
        Window.partitionBy(col(key)).orderBy(col(vCol))))
    val mm = hc.groupBy(col(key))
      .agg(min(col(vCol)).cast("double").as("__mn"),
        max(col(vCol)).cast("double").as("__mx"))
    val hb = hc.join(broadcast(mm), Seq(key))
      .withColumn("__b", least(lit(buckets - 1),
        floor((col(vCol).cast("double") - col("__mn")) * buckets /
          (col("__mx") - col("__mn") + lit(1.0))).cast("int")))
      .drop("__mn", "__mx")
    val wIn = Window.partitionBy(col(key), col("__b")).orderBy(col(vCol))
    val wOff = Window.partitionBy(col(key)).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = hb.groupBy(col(key), col("__b"))
      .agg(sum(col(cntCol)).as("__bc"))
      .withColumn("__off",
        coalesce(sum(col("__bc")).over(wOff), lit(0L)))
      .drop("__bc")
    hb.join(off, Seq(key, "__b"))
      .withColumn("__cum", sum(col(cntCol)).over(wIn) + col("__off"))
      .drop("__b", "__off")
  }

  /** Poisson(1) CDF thresholds (max weight 8) — the inverse-CDF lookup
    * [[bootstrapMeanCi]] draws deterministic resample weights through.
    * Exposed so the oracle SQL interpolates the IDENTICAL doubles
    * (toString — the cross-engine float rule) instead of re-deriving
    * them.
    */
  val poisson1Cdf: IndexedSeq[Double] = {
    var fact = 1.0
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += math.exp(-1.0) / fact
      cum
    }
  }

  /** Deterministic Poisson-bootstrap confidence interval for the group
    * mean (Efron 1979 percentile bootstrap; Poisson(1) resampling is
    * the standard distributed approximation to multinomial resampling
    * — Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams"): each of `b` resamples weighs every row by a
    * DETERMINISTIC pseudo-Poisson(1) draw — [[poisson1Cdf]] inverse
    * lookup on a uniform derived from md5(id:replicate) — so both
    * engines (and any retry) draw the identical resample. All `b`
    * resamples ride ONE scan (a b-way explode); replicate means are
    * exact decimal-sum ratios floored 6 dp; the CI endpoints are plain
    * order statistics of the b means (rank `osRank` from each end — no
    * interpolation), so the whole estimator replays in SQL.
    *
    * Scale shape: explode(b) multiplies the scan, not the state — the
    * shuffle carries (key, replicate) partial sums and group means
    * never buffer values. With b = 40 and osRank = 2 the interval is
    * the ~[2.5%, 97.5%] percentile bootstrap.
    *
    * Output: (key, n, point_mean, ci_lo, ci_hi), all means 6dp-floored.
    */
  /** The Poisson(1) draw as built-ins (md5 → hex substring → conv →
    * when-chain) — the REFERENCE form the oracle replays literally.
    * The production path is [[graft.functions.BootstrapWeightExpr]]
    * (bit-parity spec-pinned): the built-in chain allocates a 32-char
    * hex string plus a BigInt-backed `conv` per (row, replicate), and
    * on the b·n expansion that garbage was q265's measured per-rep
    * bench variance (reps 1.6–7.5 s on identical state; see SCALE.md
    * round-14).
    */
  def bootstrapWeightRef(id: Column, rep: Column): Column = {
    val u = conv(substring(
        md5(concat(id.cast("string"), lit(":"), rep.cast("string"))),
        1, 4), 16, 10)
      .cast("double") / 65536.0
    poisson1Cdf.zipWithIndex.foldRight(
        lit(poisson1Cdf.size): Column) { case ((c, k), acc) =>
      when(u < lit(c), k).otherwise(acc)
    }
  }

  def bootstrapMeanCi(df: DataFrame, key: String, idCol: String,
                      valueCol: String, b: Int = 40, osRank: Int = 2)
      : DataFrame = {
    require(b >= 2 * osRank, s"need b >= 2*osRank, got b=$b osRank=$osRank")
    val w = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.BootstrapWeightExpr(
        org.apache.spark.sql.graftbridge.Bridge.expression(
          col(idCol).cast("string")),
        org.apache.spark.sql.graftbridge.Bridge.expression(col("__rep")),
        poisson1Cdf.toArray))
    // rebalance BEFORE the b-way expansion: the md5 draws and weighted
    // partials pipeline into the scan task, so on a small-file fixture
    // (one split) the whole b·n-row expansion would run on one core —
    // measured 8.1 s -> 1.3 s at sf0.1. Round-robin is result-neutral:
    // every aggregate downstream is order-insensitive (decimal/int
    // sums), and the spec pins layout invariance.
    val reps = df.select(col(key), col(idCol), col(valueCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__w", w)
    val means = reps.groupBy(col(key), col("__rep"))
      .agg(sum(col("__w")).as("__ws"),
        sum(col(valueCol).cast("decimal(18,2)") * col("__w")).as("__vs"))
      .where(col("__ws") > 0)
      .select(col(key),
        Num.floorAt(col("__vs").cast("double") / col("__ws"), 6).as("m"))
    val asc = Window.partitionBy(col(key)).orderBy(col("m").asc)
    val desc = Window.partitionBy(col(key)).orderBy(col("m").desc)
    val ci = means
      .withColumn("ra", row_number().over(asc))
      .withColumn("rd", row_number().over(desc))
      .groupBy(col(key))
      .agg(min(when(col("ra") === osRank, col("m"))).as("ci_lo"),
        min(when(col("rd") === osRank, col("m"))).as("ci_hi"))
    val point = df.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        Num.floorAt(sum(col(valueCol).cast("decimal(18,2)"))
          .cast("double") / count(lit(1)), 6).as("point_mean"))
    point.join(ci, Seq(key))
      .select(col(key), col("n"), col("point_mean"),
        col("ci_lo"), col("ci_hi"))
  }

  /** EXACT interpolated quantiles from the VALUE-DOMAIN histogram —
    * q29's documented scale path made real. `percentile()` holds every
    * group value in a per-task buffer (memory is O(largest group)); this
    * computes the identical order statistics from a (key, value)-count
    * histogram: one hash aggregation to the domain, one cumulative-count
    * window over domain-sized frames, and a conditional-min read-off of
    * the floor/ceil order statistics — state is |value domain| rows in
    * ordinary mergeable aggregates, no buffers, at any group size. The
    * arithmetic mirrors Spark's `Percentile` exactly (pos = p·(n−1) in
    * double; result = v_lo·(ceil−pos) + v_hi·(pos−floor)), so the two
    * engines are bit-equal BEFORE any display rounding — q273 routes
    * between them under one oracle string, and the spec pins raw-double
    * equality against percentile().
    *
    * `ps` maps output column name → p in [0, 1].
    */
  /** The per-group percentile() BUFFER engine with
    * [[quantilesByDomain]]'s output contract — (key, <named quantiles>,
    * n) — so the two quantile engines are interchangeable call-for-call
    * (they are bit-equal pre-rounding; [[quantilesAuto]] routes between
    * them under q273's one oracle).
    * Spark's Percentile aggregate holds each group's values in one
    * buffer: unbeatable while groups are modest, the measured ×16 bend
    * (30.1 s vs the domain engine's 7.2 s) once a group's buffer is
    * data-sized.
    *
    * Null values: percentile() skips them but `n` counts all rows —
    * pre-filter nulls (as [[quantilesAuto]] does) when `n` must mean
    * the value count.
    */
  def quantilesByBuffer(df: DataFrame, key: String, valueCol: String,
                        ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p <= 1 },
      s"need 0 <= p <= 1, got $ps")
    val arr = ps.map { case (_, p) => s"${p}D" }.mkString(", ")
    // backtick-quote the identifier (doubling embedded backticks, the
    // SQL escape) — every other engine in the pair takes the Column
    // API, so a name with spaces/hyphens/dots must not break only here
    val vq = "`" + valueCol.replace("`", "``") + "`"
    df.groupBy(col(key))
      .agg(expr(s"percentile($vq, array($arr))").as("__ps"),
        count(lit(1)).as("n"))
      .select(col(key) +: ps.zipWithIndex.map { case ((name, _), i) =>
        col("__ps")(i).as(name) } :+ col("n"): _*)
  }

  /** Which quantile engine a given input wants (the [[spearmanEngine]]
    * discipline): the buffer engine's cost is the LARGEST group's
    * in-memory value buffer — an average would route skewed data (one
    * hot key among many singletons) straight into the blowup this
    * dispatcher exists to avoid — so the preflight computes the max
    * group size with one mergeable grouped count and routes to the
    * domain-histogram engine once it exceeds `maxGroupForBuffer`
    * (default 1M — an 8 MB double buffer per group, well under the
    * measured ×16 bend).
    */
  def quantileEngine(df: DataFrame, key: String,
                     maxGroupForBuffer: Long): String = {
    val mx = df.groupBy(col(key)).agg(count(lit(1)).as("__c"))
      .agg(max(col("__c"))).head()
    if (!mx.isNullAt(0) && mx.getLong(0) > maxGroupForBuffer) "domain"
    else "buffer"
  }

  /** Exact interpolated per-group quantiles with AUTOMATIC engine
    * dispatch — the seam closer for the [[quantilesByBuffer]] /
    * [[quantilesByDomain]] pair (the [[spearmanAuto]] pattern):
    * bit-equal output either way, so the only question is whether the
    * LARGEST group's value buffer fits an aggregation task. A user
    * should not need to know the engines exist.
    *
    * Null values are filtered BEFORE dispatch: percentile() skips
    * nulls while the domain histogram would count them, so only the
    * null-free input makes the two engines interchangeable — `n` is
    * therefore the per-group NON-NULL value count (the SQL-standard
    * percentile semantics). The preflight is one extra grouped-count
    * action over `df`'s lineage; persist/localCheckpoint expensive
    * inputs before dispatching.
    */
  def quantilesAuto(df: DataFrame, key: String, valueCol: String,
                    ps: Seq[(String, Double)],
                    maxGroupForBuffer: Long = 1000000L,
                    buckets: Int = 64): DataFrame = {
    // r18 (guide §2.4, r17 verdict #6): preflight and engine shared
    // nothing but re-scanned the same source; materialize the
    // null-filtered (key, value) projection once — the preflight's
    // grouped-count head() computes and persists it, the chosen
    // engine reads the blocks back. Same rows either way.
    val nn = df.where(col(valueCol).isNotNull)
      .select(col(key), col(valueCol))
      .localCheckpoint(eager = false)
    quantileEngine(nn, key, maxGroupForBuffer) match {
      case "buffer" => quantilesByBuffer(nn, key, valueCol, ps)
      case _        => quantilesByDomain(nn, key, valueCol, ps, buckets)
    }
  }

  def quantilesByDomain(df: DataFrame, key: String, valueCol: String,
                        ps: Seq[(String, Double)], buckets: Int = 64,
                        oneLevelMaxDomain: Long = 1048576L)
      : DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0 && p <= 1 },
      s"need 0 <= p <= 1, got $ps")
    require(buckets >= 1, s"need buckets >= 1, got $buckets")
    val h = df.groupBy(col(key), col(valueCol).cast("double").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum0 = domainCum(h, key, "__v", "__c", buckets,
      oneLevelMaxDomain)
    // per-key totals as a broadcast aggregate, NOT a per-key unordered
    // window — an unbounded-frame window still converges every row of
    // a key onto one task. Derived from domainCum's checkpointed
    // histogram (it carries __cum alongside the histogram columns), so
    // the raw scan is not re-derived for the totals.
    val tot = cum0.groupBy(col(key)).agg(sum(col("__c")).as("__n"))
    val cum = cum0.join(broadcast(tot), Seq(key))
    val qAggs = ps.map { case (name, p) =>
      val pos = lit(p) * (col("__n") - lit(1L)).cast("double")
      val loIdx = floor(pos)
      val hiIdx = ceil(pos)
      val vlo = min(when(col("__cum") > loIdx, col("__v")))
      val vhi = min(when(col("__cum") > hiIdx, col("__v")))
      // per-group constants surfaced through min() so the result is a
      // pure aggregate expression; Spark Percentile's exact formula,
      // including its integral-position special case (the weighted form
      // would multiply the exact order statistic by 0 + 0)
      when(min(hiIdx) === min(loIdx), vlo)
        .otherwise(
          vlo * (min(hiIdx) - min(pos)) + vhi * (min(pos) - min(loIdx)))
        .as(name)
    }
    cum.groupBy(col(key))
      .agg(qAggs.head, (qAggs.tail :+ max(col("__n")).as("n")): _*)
  }

  /** [[skyline]]'s LARGE-DOMAIN path: the same prefix-max dominance
    * logic run as range-bucketed local skylines first, then the global
    * pass over the local SURVIVORS only — the plan its scaladoc
    * prescribes for an x domain too large to sort on one task. The x
    * domain is value-range bucketed into `ranges` buckets (one tiny
    * min/max broadcast — deterministic, no sampled boundaries), the
    * per-bucket prefix-max windows run in parallel (each sorts only its
    * bucket's slice of the domain), and the single-task global window
    * sees only per-bucket survivors.
    *
    * Two-level ≡ one-level by construction: a locally dominated x is
    * dominated outright (its dominator has strictly larger x), and each
    * bucket's maximum __ymax always survives locally (no strictly
    * larger x in the bucket exceeds it), so the survivor frame's global
    * prefix-max equals the full domain's prefix-max at every surviving
    * x. q256 binds this engine to q253's oracle string — one oracle,
    * two skyline engines — and AggSpec pins two-level ≡ one-level on
    * tie-heavy fixtures. `x` must be non-null (it is the bucketing and
    * ordering key in both engines).
    */
  /** Which skyline engine a given input wants, from a cheap domain
    * preflight (the [[spearmanEngine]] discipline): the one-level
    * global window sorts |distinct x| rows on ONE task — immaterial
    * while the domain is bounded, the measured bend once it is not
    * (SCALE.md round-11 synthetic table: two-level already wins at
    * 1e6 distinct x). `maxDomainForGlobal` defaults to 2^18 — a
    * single-task sort of 262k rows is milliseconds, comfortably below
    * the measured crossover.
    */
  def skylineEngine(df: DataFrame, xCol: String,
                    maxDomainForGlobal: Long): String = {
    val nx = df.select(col(xCol))
      .agg(approx_count_distinct(col(xCol))).head().getLong(0)
    if (nx <= maxDomainForGlobal) "global" else "ranged"
  }

  /** 2-D skyline with AUTOMATIC engine dispatch — the seam closer for
    * the [[skyline]] / [[skylineTwoLevel]] pair (the [[spearmanAuto]]
    * pattern): bit-identical output either way (they share one
    * oracle), so the only question is whether the distinct-x frame is
    * small enough for the one-level global window's single-task sort.
    * A cheap approx-distinct preflight answers it; a user should not
    * need to know the engines exist. The preflight is one extra action
    * over `df`'s lineage — persist/localCheckpoint expensive inputs
    * (e.g. an aggregated frame) before dispatching.
    */
  def skylineAuto(df: DataFrame, xCol: String, yCol: String,
                  maxDomainForGlobal: Long = 262144L,
                  ranges: Int = 32): DataFrame =
    skylineEngine(df, xCol, maxDomainForGlobal) match {
      case "global" => skyline(df, xCol, yCol)
      case _        => skylineTwoLevel(df, xCol, yCol, ranges)
    }

  def skylineTwoLevel(df: DataFrame, xCol: String, yCol: String,
                      ranges: Int = 32): DataFrame = {
    require(ranges >= 1, s"need ranges >= 1, got $ranges")
    val mm = df.agg(min(col(xCol)).cast("double").as("__mn"),
      max(col(xCol)).cast("double").as("__mx"))
    val perx = df.groupBy(col(xCol)).agg(max(col(yCol)).as("__ymax"))
      .crossJoin(broadcast(mm))
      // +1 keeps the divisor positive on a single-value domain; least
      // clamps the max-x row into the top bucket
      .withColumn("__b", least(lit(ranges - 1),
        floor((col(xCol).cast("double") - col("__mn")) * ranges /
          (col("__mx") - col("__mn") + lit(1.0))).cast("int")))
      .drop("__mn", "__mx")
    val wl = Window.partitionBy(col("__b")).orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = perx
      .withColumn("__lgt", max(col("__ymax")).over(wl))
      .where(col("__lgt").isNull || col("__ymax") > col("__lgt"))
      .drop("__lgt", "__b")
    val wg = Window.orderBy(col(xCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val gt = local.withColumn("__mxgt", max(col("__ymax")).over(wg))
    df.join(gt, Seq(xCol))
      .where(col(yCol) === col("__ymax") &&
        (col("__mxgt").isNull || col(yCol) > col("__mxgt")))
      .drop("__ymax", "__mxgt")
  }
}
