package graft.registry

import graft.ops.Num
import Shared._

/** Oracle-SQL fragments shared by several registry parts (CTE chains,
  * reusable engine bodies) — split out of SparkEntry.oracleSql's body
  * (round 10), verbatim.
  */
private[graft] object Fragments {
    val dsumS = (c: String) => s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
    val clean = cleanSql("text")
    val toks = toksSql("text")
    val cleanToks = toksSql("c")

    // The qualityProbe GD chain (q277/q281): BIGINT-exact augmented
    // Gram cells (the 0/1 label rides as feature column 33), then 8
    // descent steps unrolled as s{t}/w{t} stages with the engine's
    // exact FP sequencing (matvec left-to-right ascending k via
    // list_transform+list_sum, update ascending j via ordered list;
    // eta = 1/trace(G/n)). Ends at `w8(vv)` — weights as a 33-list —
    // with base/tc/gm/bl/nn in scope for downstream stages. Every
    // multiply-referenced stage MATERIALIZED (the bpeChainSql lesson);
    // eta/b/n ride CROSS JOINs, not lambda subqueries.
    val qualityGdCte: String = {
      val bk = 32 // token buckets; intercept index 32; label column 33
      val dim = bk + 1
      val iterStages = (1 to 8).map { t =>
        s"""s$t AS MATERIALIZED (
           |  SELECT g.i AS i, list_sum(list_transform(range(1, ${dim + 1}),
           |    k -> g.cl[k] * p.vv[k])) AS s
           |  FROM gm g CROSS JOIN w${t - 1} p),
           |w$t AS MATERIALIZED (
           |  SELECT list(p.vv[s.i + 1]
           |      - e.e * ((s.s - b.bb[s.i + 1]) / nn.n)
           |    ORDER BY s.i) AS vv
           |  FROM s$t s CROSS JOIN w${t - 1} p CROSS JOIN et e
           |    CROSS JOIN bl b CROSS JOIN nn)""".stripMargin
      }.mkString(",\n")
      s"""base AS (
         |  SELECT id, source, CASE WHEN source IN
         |      ('src0','src1','src2','src3','src4')
         |    THEN 1 ELSE 0 END AS y, $cleanToks AS t
         |  FROM (SELECT doc_id AS id, source, $clean AS c
         |        FROM documents)),
         |tc AS (
         |  SELECT id, CAST(${md5HexNSql("tok", 12)} % $bk AS INTEGER)
         |      AS b, COUNT(*) AS c
         |  FROM (SELECT id, UNNEST(t) AS tok FROM base) GROUP BY 1, 2),
         |f AS (SELECT id, b, c FROM tc
         |      UNION ALL SELECT id, $bk, 1 FROM base
         |      UNION ALL SELECT id, $dim, 1 FROM base WHERE y = 1),
         |cells AS (
         |  SELECT f1.b AS i, f2.b AS j,
         |    CAST(SUM(f1.c * f2.c) AS BIGINT) AS s
         |  FROM f f1 JOIN f f2 USING (id) GROUP BY 1, 2),
         |gm AS MATERIALIZED (
         |  SELECT i.i AS i,
         |    list(COALESCE(CAST(c.s AS DOUBLE), 0.0) ORDER BY j.j) AS cl
         |  FROM range(0, $dim) i(i) CROSS JOIN range(0, $dim) j(j)
         |    LEFT JOIN cells c ON c.i = i.i AND c.j = j.j
         |  GROUP BY i.i),
         |bl AS MATERIALIZED (
         |  SELECT list(COALESCE(CAST(c.s AS DOUBLE), 0.0) ORDER BY i.i)
         |    AS bb
         |  FROM range(0, $dim) i(i)
         |    LEFT JOIN cells c ON c.i = i.i AND c.j = $dim),
         |nn AS (SELECT cl[$dim] AS n FROM gm WHERE i = $bk),
         |tr AS (SELECT list_sum(list(cl[i + 1] / nn.n ORDER BY i)) AS t
         |  FROM gm CROSS JOIN nn),
         |et AS (SELECT 1.0 / t AS e FROM tr),
         |w0 AS (SELECT list_transform(range(0, $dim),
         |  x -> CAST(0.0 AS DOUBLE)) AS vv),
         |$iterStages""".stripMargin
    }

    // ONE oracle for both decontamination plans: q114 (exact broadcast
    // join) and q276 (Bloom prefilter → shuffled exact join) are
    // result-identical by construction — the filter passes a superset
    // and the exact join removes its false positives; binding both to
    // this string makes divergence impossible.
    val decontSql =
      s"""WITH cleaned AS (SELECT doc_id AS id, (doc_id % 97 = 0) AS ev,
         |                        $clean AS c FROM documents),
         |sh AS (SELECT id, ev, UNNEST(list_distinct(${shinglesSql("t")})) AS sh
         |       FROM (SELECT id, ev, $cleanToks AS t FROM cleaned)),
         |evalsh AS (SELECT DISTINCT sh FROM sh WHERE ev)
         |SELECT id AS doc_id, COUNT(*) AS n_shared
         |FROM sh JOIN evalsh USING (sh) WHERE NOT ev
         |GROUP BY id ORDER BY doc_id""".stripMargin

    // ONE oracle for both brute-force top-k plans: q40 (window) and
    // q102 (typed Aggregator) are result-identical by construction —
    // binding them to the same string makes divergence impossible.
    val topkCosineSql =
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id,
        |    floor((
        |      list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
        |  FROM c CROSS JOIN q WHERE q_id <> c_id)
        |SELECT q_id, c_id, sim, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT q_id, c_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rk
        |  FROM scored) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

    // The deterministic-kmeans cell chain (init = 8 lowest-id vectors,
    // 2 Lloyd iterations, exact decimal centroid means, 9dp-floored
    // argmax with ties to the lowest cell) as a reusable WITH fragment
    // ending in `af(vec_id, v, cell)` — shared by the q125 SemDeDup
    // oracle and q228's ivf_kmeans recall row so both provably run on
    // the identical quantizer.
    // assignment of every $src-row to its argmax-cosine centroid in
    // $cents (shared by the full-corpus chain and the frozen chain)
    private def kmAssign(cents: String, out: String,
                         src: String = "e"): String =
      s"""$out AS (
         |  SELECT vec_id, v, cell FROM (
         |    SELECT e.vec_id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        floor(list_sum(list_transform(range(1, 65),
         |          i -> e.v[i] * c.cv[i])) / c.cn * 1000000000) DESC,
         |        c.cell ASC) AS rn
         |    FROM $src e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    // recompute centroids from an assignment; empty cells keep $prev's
    private def kmUpdate(assign: String, prev: String,
                         out: String): String =
      s"""${out}m AS (
         |  SELECT cell, p.pos AS pos,
         |    CAST(SUM(CAST(a.v[p.pos] AS DECIMAL(27,10))) AS DOUBLE)
         |      / COUNT(*) AS m
         |  FROM $assign a CROSS JOIN range(1, 65) AS p(pos)
         |  GROUP BY cell, p.pos),
         |${out}l AS (
         |  SELECT cell,
         |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS cv
         |  FROM ${out}m GROUP BY cell),
         |$out AS (
         |  SELECT p.cell, COALESCE(l.cv, p.cv) AS cv,
         |    sqrt(list_sum(list_transform(COALESCE(l.cv, p.cv),
         |      x -> x * x))) AS cn
         |  FROM $prev p LEFT JOIN ${out}l l ON l.cell = p.cell)"""
        .stripMargin

    val kmeansAfCte: String =
      s"""e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |    v AS cv, sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |${kmAssign("c0", "a1")},
         |${kmUpdate("a1", "c0", "c1")},
         |${kmAssign("c1", "a2")},
         |${kmUpdate("a2", "c1", "c2")},
         |${kmAssign("c2", "af")}""".stripMargin

    /** [[kmeansAfCte]] generalized for the sized-policy oracles
      * (q304, the retrain decision): the same 2-iteration
      * deterministic chain with the seed count an arbitrary SQL
      * expression (e.g. a ⌈√n⌉ scalar subquery) and every CTE name
      * prefixed — ends in
      * `${p}af(vec_id, v, cell)`. Requires `e` in scope.
      */
    def kmeansChainAt(limitSql: String, p: String): String =
      s"""${p}c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |    v AS cv, sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
         |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id
         |        LIMIT $limitSql)),
         |${kmAssign(s"${p}c0", s"${p}a1")},
         |${kmUpdate(s"${p}a1", s"${p}c0", s"${p}c1")},
         |${kmAssign(s"${p}c1", s"${p}a2")},
         |${kmUpdate(s"${p}a2", s"${p}c1", s"${p}c2")},
         |${kmAssign(s"${p}c2", s"${p}af")}""".stripMargin

    /** The q280 chain: train the SAME 2-iteration deterministic kmeans
      * on the rows where `baseCond` holds, then assign EVERY embedding
      * row under the frozen centroids, emitting the winning floored
      * TRUE cosine as an exact integer (sim_e9 = floor(cos·10⁹), dot
      * over BOTH norms — the argmax rank stays on the norm-cancelling
      * dot/|c|, mirroring the engine's assignScoredCos) — ends in
      * `af(vec_id, cell, sim_e9)`. `kSql` is the seed count — a
      * literal for the fixed parity grid (q280/q293), or a
      * derived scalar (ceil-sqrt-count) for the sized serving oracles
      * (q299/q300); the final trained centroids stay named `c2`
      * so a probe budget can be derived from `(SELECT COUNT(*) FROM
      * c2)` = k.
      */
    def kmeansFrozenCte(baseCond: String, kSql: String = "8"): String =
      s"""e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |eb AS (SELECT vec_id, v FROM e WHERE $baseCond),
         |c0 AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         |    v AS cv, sqrt(list_sum(list_transform(v, x -> x * x))) AS cn
         |  FROM (SELECT vec_id, v FROM eb ORDER BY vec_id
         |        LIMIT $kSql)),
         |${kmAssign("c0", "a1", "eb")},
         |${kmUpdate("a1", "c0", "c1")},
         |${kmAssign("c1", "a2", "eb")},
         |${kmUpdate("a2", "c1", "c2")},
         |af AS (
         |  SELECT vec_id, cell, sim_e9 FROM (
         |    SELECT e.vec_id, c.cell,
         |      CAST(floor(list_sum(list_transform(range(1, 65),
         |        i -> e.v[i] * c.cv[i]))
         |        / (c.cn * sqrt(list_sum(list_transform(e.v,
         |             x -> x * x))))
         |        * 1000000000) AS BIGINT) AS sim_e9,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        floor(list_sum(list_transform(range(1, 65),
         |          i -> e.v[i] * c.cv[i])) / c.cn * 1000000000) DESC,
         |        c.cell ASC) AS rn
         |    FROM e CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin

    // ---- hybrid-RRF fusion fragments (q279/q287/q288) ------------------
    // ONE lexical arm, ONE fusion tail, TWO dense arms — so the
    // brute-armed truth (q279), the production IVF-ADC-armed form
    // (q287), and the fused-recall measurement (q288) are provably the
    // same fusion over different retrievers.

    /** BM25 lexical arm (Text.bm25RetrieveDf's exact scoring chain)
      * over the docs matching `docWhere` — queries are the matching
      * docs < 10 (a takedown drops its victims' queries too), the
      * candidate corpus, df/dl/stats all scoped to the survivors;
      * self excluded — ends in `lex(q_id, c_id, rk_lex)`,
      * rk_lex <= maxK. MATERIALIZED: q288 fuses it twice, q294
      * twelve times. */
    def hybridLexCteOver(docWhere: String, maxK: Int): String =
      s"""lq AS (SELECT doc_id AS query_id, $clean AS c
         |  FROM documents WHERE doc_id < 10 AND ($docWhere)),
         |qt AS (SELECT query_id, UNNEST(list_distinct($cleanToks))
         |    AS term FROM lq),
         |cleaned AS (SELECT doc_id AS id, $clean AS c FROM documents
         |  WHERE $docWhere),
         |terms AS (SELECT id, UNNEST($cleanToks) AS term FROM cleaned),
         |tf AS (SELECT id, term, COUNT(*) AS tf FROM terms
         |  GROUP BY 1, 2),
         |dl AS (SELECT id, COUNT(*) AS dl FROM terms GROUP BY 1),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT (SELECT COUNT(*) FROM terms) AS n_terms,
         |                 (SELECT COUNT(*) FROM documents
         |                  WHERE $docWhere) AS n_docs),
         |w AS (SELECT qt.query_id, tf.id,
         |    floor((ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |      * (tf * 2.5)
         |      / (tf + 1.5 * (0.25 + 0.75 * dl
         |        / (CAST(n_terms AS DOUBLE) / n_docs)))) * 10000)
         |      / 10000 AS w
         |  FROM tf JOIN qt USING (term) JOIN dl USING (id)
         |  JOIN dfreq USING (term) CROSS JOIN stats),
         |sc AS (SELECT query_id, id,
         |    ${Num.floorAtSql(
           "CAST(SUM(CAST(w AS DECIMAL(18,4))) AS DOUBLE)", 4)}
         |      AS score
         |  FROM w GROUP BY 1, 2),
         |lr AS (SELECT query_id, id, row_number()
         |    OVER (PARTITION BY query_id ORDER BY score DESC, id)
         |    AS rk
         |  FROM sc WHERE id <> query_id),
         |lex AS MATERIALIZED (SELECT query_id AS q_id, id AS c_id,
         |    CAST(rk AS INTEGER) AS rk_lex
         |  FROM lr WHERE rk <= $maxK)""".stripMargin

    /** [[hybridLexCteOver]] at full corpus scope. */
    def hybridLexCteK(maxK: Int): String =
      hybridLexCteOver("TRUE", maxK)

    val hybridLexCte: String = hybridLexCteK(20)

    /** Brute cosine dense arm (Sim.topK's 4dp-floored ranking) — the
      * ground-truth retriever; ends in `denb(q_id, c_id, rk_emb)`,
      * rk_emb <= maxK. */
    def hybridDenseBruteCteK(maxK: Int): String =
      s"""eq AS (SELECT vec_id AS q_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 10),
         |ec AS (SELECT vec_id AS c_id, embedding AS cv
         |  FROM embeddings),
         |es AS (
         |  SELECT q_id, c_id,
         |    floor((
         |      list_sum(list_transform(range(1, len(qv)+1),
         |        i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(range(1, len(qv)+1),
         |        i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(range(1, len(cv)+1),
         |        i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE))))))
         |      * 10000) / 10000 AS sim
         |  FROM ec CROSS JOIN eq WHERE q_id <> c_id),
         |er AS (SELECT q_id, c_id, row_number()
         |    OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC)
         |    AS rk
         |  FROM es),
         |denb AS (SELECT q_id, c_id, CAST(rk AS INTEGER) AS rk_emb
         |  FROM er WHERE rk <= $maxK)""".stripMargin

    val hybridDenseBruteCte: String = hybridDenseBruteCteK(20)

    /** IVF-ADC dense arm (Sim.topKIvfAdc: own cell ∪ top
      * `probesSql` nearest-centroid cells, ADC over the m=4 PQ codes)
      * — ends in `dena(q_id, c_id, rk_emb)`, rk_emb <= maxK, over the
      * assignment CTE `af(vec_id, v, cell)` named by `af`. Requires
      * that CTE (e.g. [[kmeansAfCte]]'s `af`, or a frozen-chain join)
      * and pqChainsSql(4, 8, 16, 2) (for `pcodes`/`pqd_*`) in scope.
      * `probesSql` is a literal for the fixed arms and a derived
      * scalar (max(2, ⌈k/4⌉) from the trained cell count) for the
      * sized serving oracles. */
    def hybridDenseAdcCteOver(af: String, maxK: Int,
                              probesSql: String = "2"): String =
      s"""cm AS (SELECT cell, d.pos AS pos,
         |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
         |      / COUNT(*) AS m
         |  FROM $af CROSS JOIN range(1, 65) AS d(pos)
         |  GROUP BY cell, d.pos),
         |cent AS (SELECT cell,
         |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
         |  FROM cm GROUP BY cell),
         |centn AS (SELECT cell, ce,
         |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
         |  FROM cent),
         |qn AS (SELECT vec_id AS q_id, cell AS owncell, v AS qv,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm
         |  FROM $af WHERE vec_id < 10),
         |centp AS (SELECT q_id, cell FROM (
         |  SELECT n.q_id, t.cell,
         |    row_number() OVER (PARTITION BY n.q_id ORDER BY
         |      ${Num.floorAtSql(
           "list_sum(list_transform(range(1, 65)," +
             " i -> n.qv[i] * t.ce[i])) / (n.qnorm * t.cn)", 9)} DESC,
         |      t.cell ASC) AS pr
         |  FROM qn n CROSS JOIN centn t) WHERE pr <= $probesSql),
         |ownp AS (SELECT q_id, owncell AS cell FROM qn),
         |probe AS (SELECT DISTINCT q_id, cell
         |  FROM (SELECT * FROM ownp UNION ALL SELECT * FROM centp)),
         |adcp AS (SELECT p.q_id, kc.vec_id AS c_id,
         |    floor((qd0.d + qd1.d + qd2.d + qd3.d) * 1000000000) AS dk
         |  FROM pcodes kc
         |  JOIN $af cl ON cl.vec_id = kc.vec_id
         |  JOIN probe p ON p.cell = cl.cell
         |  JOIN pqd_0 qd0 ON qd0.q_id = p.q_id AND qd0.code = kc.k0
         |  JOIN pqd_1 qd1 ON qd1.q_id = p.q_id AND qd1.code = kc.k1
         |  JOIN pqd_2 qd2 ON qd2.q_id = p.q_id AND qd2.code = kc.k2
         |  JOIN pqd_3 qd3 ON qd3.q_id = p.q_id AND qd3.code = kc.k3
         |  WHERE p.q_id <> kc.vec_id),
         |dena AS (SELECT q_id, c_id, CAST(rk AS INTEGER) AS rk_emb
         |  FROM (
         |    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |        ORDER BY dk ASC, c_id ASC) AS rk
         |    FROM adcp) WHERE rk <= $maxK)""".stripMargin

    val hybridDenseAdcCte: String = hybridDenseAdcCteOver("af", 20)

    /** RRF fusion tail (Sim.rrfFuse, rrfC = 60): full-outer join `lex`
      * with dense arm `den`, fused top-5 with id tie-breaks — emits
      * CTE `$out(q_id, c_id, rk_lex, rk_emb, rrf, rk)`, MATERIALIZED
      * (q288 reads the truth fusion twice). */
    def rrfFusedCte(den: String, out: String): String =
      s"""f$out AS (SELECT q_id, c_id, rk_lex, rk_emb,
         |    COALESCE(1.0 / (60 + rk_lex), 0.0)
         |      + COALESCE(1.0 / (60 + rk_emb), 0.0) AS rrf
         |  FROM lex FULL JOIN $den USING (q_id, c_id)),
         |$out AS MATERIALIZED (
         |  SELECT q_id, c_id, rk_lex, rk_emb, rrf,
         |    CAST(rk AS INTEGER) AS rk
         |  FROM (SELECT q_id, c_id, rk_lex, rk_emb, rrf, row_number()
         |      OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rk
         |    FROM f$out) WHERE rk <= 5)""".stripMargin

    /** IVF-ADC dense arm as a PER-PROBE-COUNT sweep (q294): identical
      * probe geometry and ADC ranking to [[hybridDenseAdcCte]], but
      * candidates carry pmin (own cell 1, centroid rank r at
      * max(r, 2)) and are ranked once per probe count p — ends in
      * `denas(p, q_id, c_id, rk_emb)`, rk_emb <= maxK, p in
      * [1, maxProbes]. Requires `af` and pqChainsSql(4, 8, 16, 2)
      * in scope. */
    def hybridDenseAdcSweepCte(maxProbes: Int, maxK: Int): String = {
      val ps = (1 to maxProbes).map(p => s"($p)").mkString(", ")
      s"""cm AS (SELECT cell, d.pos AS pos,
         |    CAST(SUM(CAST(v[d.pos] AS DECIMAL(27,10))) AS DOUBLE)
         |      / COUNT(*) AS m
         |  FROM af CROSS JOIN range(1, 65) AS d(pos)
         |  GROUP BY cell, d.pos),
         |cent AS (SELECT cell,
         |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS ce
         |  FROM cm GROUP BY cell),
         |centn AS (SELECT cell, ce,
         |    sqrt(list_sum(list_transform(ce, x -> x * x))) AS cn
         |  FROM cent),
         |qn AS (SELECT vec_id AS q_id, cell AS owncell, v AS qv,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm
         |  FROM af WHERE vec_id < 10),
         |centp AS (SELECT q_id, cell, GREATEST(pr, 2) AS pmin FROM (
         |  SELECT n.q_id, t.cell,
         |    row_number() OVER (PARTITION BY n.q_id ORDER BY
         |      ${Num.floorAtSql(
             "list_sum(list_transform(range(1, 65)," +
               " i -> n.qv[i] * t.ce[i])) / (n.qnorm * t.cn)", 9)} DESC,
         |      t.cell ASC) AS pr
         |  FROM qn n CROSS JOIN centn t) WHERE pr <= $maxProbes),
         |ownp AS (SELECT q_id, owncell AS cell, 1 AS pmin FROM qn),
         |probe AS (SELECT q_id, cell, MIN(pmin) AS pmin
         |  FROM (SELECT * FROM ownp UNION ALL SELECT * FROM centp)
         |  GROUP BY q_id, cell),
         |adcp AS MATERIALIZED (SELECT p.q_id, kc.vec_id AS c_id,
         |    p.pmin,
         |    floor((qd0.d + qd1.d + qd2.d + qd3.d) * 1000000000) AS dk
         |  FROM pcodes kc
         |  JOIN af cl ON cl.vec_id = kc.vec_id
         |  JOIN probe p ON p.cell = cl.cell
         |  JOIN pqd_0 qd0 ON qd0.q_id = p.q_id AND qd0.code = kc.k0
         |  JOIN pqd_1 qd1 ON qd1.q_id = p.q_id AND qd1.code = kc.k1
         |  JOIN pqd_2 qd2 ON qd2.q_id = p.q_id AND qd2.code = kc.k2
         |  JOIN pqd_3 qd3 ON qd3.q_id = p.q_id AND qd3.code = kc.k3
         |  WHERE p.q_id <> kc.vec_id),
         |denas AS MATERIALIZED (SELECT p, q_id, c_id,
         |    CAST(rk AS INTEGER) AS rk_emb
         |  FROM (
         |    SELECT pp.p, a.q_id, a.c_id,
         |      row_number() OVER (PARTITION BY pp.p, a.q_id
         |        ORDER BY a.dk ASC, a.c_id ASC) AS rk
         |    FROM (VALUES $ps) pp(p)
         |    JOIN adcp a ON a.pmin <= pp.p) WHERE rk <= $maxK)"""
        .stripMargin
    }

    /** The q294 fusion + stats tail: for each listK, fuse the sliced
      * lexical and brute arms into the truth top-5; for each
      * (p, listK), fuse the per-p ADC arm the same way and hit-count
      * against that truth — one row per config, recall floored 4 dp.
      * Requires `lex` (rk_lex <= max listK), `denb` (rk_emb <= max
      * listK) and `denas` in scope; rrfC = 60, fused k = 5 (the
      * q279/q287/q288 constants). */
    def fusedSweepTailSql(maxProbes: Int, listKs: Seq[Int]): String = {
      def fuse(lk: Int, den: String, out: String) =
        s"""f$out AS (SELECT q_id, c_id, rk_lex, rk_emb,
           |    COALESCE(1.0 / (60 + rk_lex), 0.0)
           |      + COALESCE(1.0 / (60 + rk_emb), 0.0) AS rrf
           |  FROM (SELECT * FROM lex WHERE rk_lex <= $lk) lx
           |  FULL JOIN ($den) dn USING (q_id, c_id)),
           |$out AS MATERIALIZED (SELECT q_id, c_id FROM (
           |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
           |      ORDER BY rrf DESC, c_id) AS rk
           |  FROM f$out) WHERE rk <= 5)""".stripMargin
      val truths = listKs.map { lk =>
        fuse(lk, s"SELECT q_id, c_id, rk_emb FROM denb " +
          s"WHERE rk_emb <= $lk", s"rtr$lk") +
          s",\nntr$lk AS (SELECT COUNT(*) AS n_truth FROM rtr$lk)"
      }
      val approxes = for { lk <- listKs; p <- 1 to maxProbes } yield
        fuse(lk, s"SELECT q_id, c_id, rk_emb FROM denas " +
          s"WHERE p = $p AND rk_emb <= $lk", s"rap${p}_$lk")
      val rows = for { lk <- listKs; p <- 1 to maxProbes } yield
        s"""SELECT CAST($p AS INTEGER) AS probes,
           |  CAST($lk AS INTEGER) AS list_k,
           |  CAST((SELECT n_truth FROM ntr$lk) AS BIGINT) AS n_truth,
           |  CAST(COUNT(*) AS BIGINT) AS n_approx,
           |  CAST(COUNT(b.q_id) AS BIGINT) AS n_hits,
           |  CASE WHEN (SELECT n_truth FROM ntr$lk) = 0 THEN 1.0
           |       ELSE ${Num.floorAtSql(
             s"CAST(COUNT(b.q_id) AS DOUBLE)" +
               s" / (SELECT n_truth FROM ntr$lk)", 4)}
           |  END AS recall
           |FROM rap${p}_$lk a LEFT JOIN rtr$lk b
           |  ON b.q_id = a.q_id AND b.c_id = a.c_id""".stripMargin
      (truths ++ approxes).mkString(",\n") +
        "\nSELECT * FROM (\n" + rows.mkString("\nUNION ALL\n") +
        "\n) ORDER BY probes, list_k"
    }

    // ONE Spearman oracle for BOTH engines q233 routes between
    // (windowed raw-frame, domain-reduced + joint-domain joins):
    // average ranks from
    // per-group value-domain cumsums carried as exact doubled
    // integers; Pearson closed form on decimal sums
    val spearmanSql = {
      def rk(c: String, out: String) =
        s"""(SELECT l_returnflag, v AS $c,
           |    2 * (SUM(cnt) OVER (PARTITION BY l_returnflag
           |      ORDER BY v) - cnt) + cnt + 1 AS $out
           |  FROM (SELECT l_returnflag, $c AS v, COUNT(*) AS cnt
           |    FROM lineitem GROUP BY 1, 2))""".stripMargin
      s"""WITH r AS (SELECT li.l_returnflag, rx.rx, ry.ry
         |  FROM lineitem li
         |  JOIN ${rk("l_quantity", "rx")} rx
         |    ON rx.l_returnflag = li.l_returnflag
         |   AND rx.l_quantity = li.l_quantity
         |  JOIN ${rk("l_extendedprice", "ry")} ry
         |    ON ry.l_returnflag = li.l_returnflag
         |   AND ry.l_extendedprice = li.l_extendedprice),
         |g AS (SELECT l_returnflag, COUNT(*) AS n,
         |    SUM(CAST(rx AS DECIMAL(18,0))) AS sx,
         |    SUM(CAST(ry AS DECIMAL(18,0))) AS sy,
         |    SUM(CAST(rx AS DECIMAL(18,0)) * CAST(rx AS DECIMAL(18,0)))
         |      AS sxx,
         |    SUM(CAST(ry AS DECIMAL(18,0)) * CAST(ry AS DECIMAL(18,0)))
         |      AS syy,
         |    SUM(CAST(rx AS DECIMAL(18,0)) * CAST(ry AS DECIMAL(18,0)))
         |      AS sxy
         |  FROM r GROUP BY 1)
         |SELECT l_returnflag, n, ${Num.floorAtSql(
           "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
             " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
             " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
             " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
             " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
             " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))", 6)} AS rho
         |FROM g ORDER BY l_returnflag""".stripMargin
    }

    // The real-kmeans IVF retriever (q125's deterministic quantizer,
    // own-cell probe, q40 scoring) as ONE standalone query ending in
    // (q_id, c_id, rk) — shared by q228's recall row and q247's
    // position-weighted metrics so both provably measure the identical
    // retriever.
    val kmIvfTopkSql: String =
      s"""WITH $kmeansAfCte,
         |kmn AS (SELECT vec_id, v, cell,
         |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nr
         |  FROM af),
         |kmscored AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    floor(list_sum(list_transform(range(1, 65),
         |        i -> a.v[i] * b.v[i])) / (a.nr * b.nr) * 10000)
         |      / 10000 AS sim
         |  FROM kmn a JOIN kmn b ON a.cell = b.cell
         |    AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < 10)
         |SELECT q_id, c_id, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, c_id ASC) AS rk FROM kmscored)
         |  WHERE rk <= 5""".stripMargin

    // q41's and q43's full oracle bodies as vals: q228 measures their
    // recall against q40's, so all three must provably be the SAME
    // queries the standalone entries check
    val topkIvfSql =
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS cell FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding AS cv, label AS cell FROM embeddings),
        |scored AS (
        |  SELECT q_id, c_id,
        |    floor((
        |      list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
        |  FROM c JOIN q USING (cell) WHERE q_id <> c_id)
        |SELECT q_id, c_id, sim, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT q_id, c_id, sim,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rk
        |  FROM scored) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

    def topkLshSqlFor(bits: Int): String =
      s"""WITH dims AS (SELECT MAX(len(embedding)) AS dim FROM embeddings),
         |planes AS (
         |  SELECT CAST(t.i AS INTEGER) AS i,
         |    list_transform(range(0, (SELECT dim FROM dims)), j ->
         |      CAST(CAST((${md5Hex4Sql("CAST(t.i AS VARCHAR) || ':' || CAST(j AS VARCHAR)")} / 65535.0) * 2 - 1 AS FLOAT) AS DOUBLE)) AS pv
         |  FROM range(0, $bits) t(i)),
         |bucket AS (
         |  SELECT vec_id, SUM(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS cell
         |  FROM (
         |    SELECT e.vec_id, p.i,
         |      list_sum(list_transform(range(1, len(e.embedding) + 1), x ->
         |        CAST(e.embedding[x] AS DOUBLE) * p.pv[x])) AS dot
         |    FROM embeddings e CROSS JOIN planes p)
         |  GROUP BY vec_id),
         |q AS (SELECT cell, e.vec_id AS q_id, e.embedding AS qv
         |      FROM embeddings e JOIN bucket USING (vec_id) WHERE e.vec_id < 10),
         |c AS (SELECT cell, e.vec_id AS c_id, e.embedding AS cv
         |      FROM embeddings e JOIN bucket USING (vec_id)),
         |scored AS (
         |  SELECT q_id, c_id,
         |    floor((
         |      list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
         |  FROM c JOIN q USING (cell) WHERE q_id <> c_id)
         |SELECT q_id, c_id, sim, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT q_id, c_id, sim,
         |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rk
         |  FROM scored) WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

    val topkLshSql = topkLshSqlFor(4)

    // OR-amplified sign-LSH top-5 (q_id, c_id) set for `tables`
    // independent plane sets at bits = 4: table 0 keeps the q43 "i:j"
    // md5 derivation (so tables = 1 IS the q43/q231 engine), table
    // t > 0 seeds "t<t>:i:j" (Sim.hyperplanes); a pair is a candidate
    // if buckets agree in ANY table (DISTINCT union — scoring is
    // table-independent, so this equals the engine's first-match-wins)
    def lshTablesTkSqlFor(tables: Int): String = {
      val keyExpr = "CASE WHEN t.tbl = 0" +
        " THEN CAST(p.i AS VARCHAR) || ':' || CAST(j AS VARCHAR)" +
        " ELSE 't' || CAST(t.tbl AS VARCHAR) || ':' ||" +
        " CAST(p.i AS VARCHAR) || ':' || CAST(j AS VARCHAR) END"
      s"""WITH dims AS (SELECT MAX(len(embedding)) AS dim FROM embeddings),
         |planes AS (
         |  SELECT CAST(t.tbl AS INTEGER) AS tbl, CAST(p.i AS INTEGER) AS i,
         |    list_transform(range(0, (SELECT dim FROM dims)), j ->
         |      CAST(CAST((${md5Hex4Sql(keyExpr)} / 65535.0) * 2 - 1 AS FLOAT) AS DOUBLE)) AS pv
         |  FROM range(0, $tables) t(tbl) CROSS JOIN range(0, 4) p(i)),
         |bucket AS (
         |  SELECT vec_id, tbl, SUM(CASE WHEN dot > 0 THEN (1 << i) ELSE 0 END) AS cell
         |  FROM (
         |    SELECT e.vec_id, p.tbl, p.i,
         |      list_sum(list_transform(range(1, len(e.embedding) + 1), x ->
         |        CAST(e.embedding[x] AS DOUBLE) * p.pv[x])) AS dot
         |    FROM embeddings e CROSS JOIN planes p)
         |  GROUP BY vec_id, tbl),
         |qb AS (SELECT tbl, cell, vec_id AS q_id FROM bucket WHERE vec_id < 10),
         |pairs AS (SELECT DISTINCT q.q_id, c.vec_id AS c_id
         |  FROM qb q JOIN bucket c ON q.tbl = c.tbl AND q.cell = c.cell
         |  WHERE q.q_id <> c.vec_id),
         |scored AS (
         |  SELECT p.q_id, p.c_id,
         |    floor((
         |      list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         |       * sqrt(list_sum(list_transform(range(1, len(b.embedding)+1), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))) * 10000) / 10000 AS sim
         |  FROM pairs p
         |  JOIN embeddings a ON a.vec_id = p.q_id
         |  JOIN embeddings b ON b.vec_id = p.c_id)
         |SELECT q_id, c_id, CAST(rk AS INTEGER) AS rk FROM (
         |  SELECT q_id, c_id,
         |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rk
         |  FROM scored) WHERE rk <= 5""".stripMargin
    }

    // the q111 LSH-then-verify pair generation as a reusable CTE chain
    // (doc_id, sig_key) for every document — md5 of the NUL-joined
    // k-MinHash signature, i.e. the STATE KEY of the streaming
    // near-dup filter and the admission key of the batch q135 pass.
    // One fragment, two engines (q135 batch admission, q266 streaming
    // admission gate); short docs keep the all-sentinel signature.
    def minhashSigCte(k: Int, p: String = ""): String =
      s"""${p}tok AS (SELECT doc_id, $cleanToks AS t
         |  FROM (SELECT doc_id, $clean AS c FROM documents)),
         |${p}sig AS (SELECT doc_id,
         |    md5(array_to_string(list_transform(range(0, $k), s ->
         |      COALESCE(list_min(list_transform(${shinglesSql("t")},
         |        x -> md5(CAST(s AS VARCHAR) || ':' || x))), '~empty')),
         |      chr(0))) AS sig_key
         |  FROM ${p}tok)""".stripMargin

    // ending in `pairs(id_a, id_b)` — shared by the CC oracle and the
    // triangle-census oracle so every graph query provably runs on the
    // identical edge set
    // parameterized by a doc predicate so the store's TIME-TRAVEL gate
    // (q270) can replay the identical chain over a version's admitted
    // prefix — signatures are per-doc, so pairs among a doc subset ARE
    // the chain run on that subset
    def verifiedPairsCteFor(docWhere: String): String =
      s"""cleaned AS (SELECT doc_id AS id, ${cleanSql("text")} AS c FROM documents WHERE $docWhere),
         |sh AS (SELECT id, ${shinglesSql("t")} AS shs
         |       FROM (SELECT id, ${toksSql("c")} AS t FROM cleaned)),
         |sig AS (SELECT id,
         |  list_transform(range(0, 8), s ->
         |    COALESCE(list_min(list_transform(shs, x -> md5(CAST(s AS VARCHAR) || ':' || x))), '~empty')) AS sig
         |  FROM sh WHERE len(shs) > 0),
         |banded AS (
         |  SELECT id, sig, CAST(b.i AS INTEGER) AS band,
         |         md5(sig[CAST(b.i*2+1 AS INTEGER)] || '|' || sig[CAST(b.i*2+2 AS INTEGER)]) AS bkey
         |  FROM sig CROSS JOIN range(0, 4) AS b(i)),
         |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
         |  WHERE a.id < b.id),
         |dsh AS (SELECT id, list_distinct(shs) AS shs FROM sh
         |        WHERE len(shs) > 0),
         |scored AS (SELECT id_a, id_b,
         |  len(list_filter(x.shs, e -> list_contains(y.shs, e))) AS c,
         |  len(x.shs) AS na, len(y.shs) AS nb
         |  FROM cands JOIN dsh x ON x.id = cands.id_a
         |             JOIN dsh y ON y.id = cands.id_b),
         |pairs AS (SELECT id_a, id_b,
         |    floor(CAST(c AS DOUBLE) / (na + nb - c) * 10000) / 10000
         |      AS jacc
         |  FROM scored
         |  WHERE floor(CAST(c AS DOUBLE) / (na + nb - c) * 10000) / 10000
         |    >= 0.2)""".stripMargin

    val verifiedPairsCte = verifiedPairsCteFor("TRUE")

    // ONE oracle for both connected-components engines: q128 (fixpoint
    // label propagation) and q130 (alternating large-star/small-star)
    // must produce the identical component map over the identical q111
    // pair graph — sharing the string makes divergence impossible to
    // miss. Reachability via a recursive CTE; component = min reachable.
    // exact components over the verified pairs as a reusable CTE chain
    // ending in `comp(doc_id, component)` — reachability via a
    // recursive CTE; component = min reachable id
    val ccCte =
      """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, lbl) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id AS doc_id, MIN(lbl) AS component
        |         FROM reach GROUP BY id)""".stripMargin

    def ccOracleSqlFor(docWhere: String, preCtes: String = ""): String =
      s"""WITH RECURSIVE
         |$preCtes${verifiedPairsCteFor(docWhere)},
         |$ccCte
         |SELECT doc_id, component,
         |  COUNT(*) OVER (PARTITION BY component) AS n_members,
         |  (doc_id = component) AS is_survivor
         |FROM comp ORDER BY doc_id""".stripMargin

    val ccOracleSql = ccOracleSqlFor("TRUE")

    // the q170 Cavnar–Trenkle prediction as a reusable CTE chain ending
    // in `ct_pred(doc_id, lang, pred_lang, dist)` — shared by the
    // lang-ID oracle and the predicted-language mixture oracle (q173)
    // so both provably score the identical classifier
    val ctPredCte =
      s"""ct_cleaned AS (SELECT doc_id, lang, ${cleanSql("text")} AS c
         |  FROM documents),
         |ct_tri AS (SELECT doc_id, lang,
         |    UNNEST(CASE WHEN strlen(c) < 3 THEN []
         |      ELSE list_transform(range(0, strlen(c) - 2),
         |        i -> substring(c, CAST(i + 1 AS INTEGER), 3)) END)
         |      AS g
         |  FROM ct_cleaned),
         |ct_lp AS (SELECT lang AS cand_lang, g, rank_l FROM (
         |    SELECT lang, g, row_number() OVER (PARTITION BY lang
         |      ORDER BY COUNT(*) DESC, g) AS rank_l
         |    FROM ct_tri GROUP BY lang, g) WHERE rank_l <= 40),
         |ct_dp AS (SELECT doc_id, g, rank_d FROM (
         |    SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY COUNT(*) DESC, g) AS rank_d
         |    FROM ct_tri GROUP BY doc_id, g) WHERE rank_d <= 40),
         |ct_m AS (SELECT doc_id, cand_lang,
         |    CAST(SUM(abs(rank_d - rank_l)) AS BIGINT) AS md,
         |    COUNT(*) AS nm
         |  FROM ct_dp JOIN ct_lp USING (g) GROUP BY 1, 2),
         |ct_grid AS (SELECT ds.doc_id, ds.n_prof, langs.cand_lang
         |  FROM (SELECT doc_id, COUNT(*) AS n_prof FROM ct_dp
         |    GROUP BY 1) ds
         |  CROSS JOIN (SELECT DISTINCT cand_lang FROM ct_lp) langs),
         |ct_best AS (SELECT doc_id, cand_lang, dist, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY dist, cand_lang) AS rk
         |  FROM (SELECT g.doc_id, g.cand_lang,
         |      CAST(COALESCE(m.md, 0)
         |        + (g.n_prof - COALESCE(m.nm, 0)) * 40 AS BIGINT)
         |        AS dist
         |    FROM ct_grid g LEFT JOIN ct_m m ON m.doc_id = g.doc_id
         |      AND m.cand_lang = g.cand_lang)),
         |ct_pred AS (SELECT d.doc_id, d.lang,
         |    COALESCE(b.cand_lang, 'und') AS pred_lang, b.dist
         |  FROM documents d
         |  LEFT JOIN (SELECT * FROM ct_best WHERE rk = 1) b
         |    ON b.doc_id = d.doc_id)""".stripMargin

    // the q200 interpolated-bigram scorer as a reusable CTE chain ending
    // in `bg_scored(doc_id, n_bigrams, mean_log2p)` — shared by the
    // q200 oracle and the q204 bucket oracle so both provably score the
    // identical model
    val bigramScoredCte =
      s"""bg_tokd AS (SELECT doc_id, $cleanToks AS t
         |  FROM (SELECT doc_id, $clean AS c FROM documents)),
         |bg_n AS (SELECT CAST(SUM(len(t)) AS DOUBLE) AS n FROM bg_tokd),
         |bg_s AS (SELECT doc_id, bg,
         |    string_split(bg, ' ')[1] AS w1,
         |    string_split(bg, ' ')[2] AS w2
         |  FROM (SELECT doc_id,
         |      UNNEST(${shinglesSql("t", 2)}) AS bg FROM bg_tokd)),
         |bg_tf AS (SELECT bg, COUNT(*) AS cbg FROM bg_s GROUP BY 1),
         |bg_ctx AS (SELECT w1, COUNT(*) AS cctx FROM bg_s GROUP BY 1),
         |bg_uni AS (SELECT w2, COUNT(*) AS cu
         |  FROM (SELECT UNNEST(t) AS w2 FROM bg_tokd) GROUP BY 1),
         |bg_sc AS (SELECT doc_id, CAST(${Num.floorAtSql(
           "log2(0.5 * cbg / cctx + 0.5 * cu / n)", 9)}
         |    AS DECIMAL(28,9)) AS lp
         |  FROM bg_s JOIN bg_tf USING (bg) JOIN bg_ctx USING (w1)
         |  JOIN bg_uni USING (w2) CROSS JOIN bg_n),
         |bg_scored AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |  ${Num.floorAtSql(
           "CAST(SUM(lp) AS DOUBLE) / COUNT(*)", 6)} AS mean_log2p
         |FROM bg_sc GROUP BY 1)""".stripMargin

    // the q207 winnowing selection as a reusable CTE chain ending in
    // `wn_sel(doc_id, h, sp)` — shared by the fingerprint oracle and
    // the q208 candidate-pair oracle
    val winnowCte =
      s"""wn_tokd AS (SELECT doc_id, $cleanToks AS t
         |  FROM (SELECT doc_id, $clean AS c FROM documents)),
         |wn_hs AS (SELECT doc_id,
         |    list_transform(${shinglesSql("t")},
         |      s -> ${md5HexNSql("s", 8)}) AS h
         |  FROM wn_tokd),
         |wn_hw AS (SELECT doc_id, h FROM wn_hs WHERE len(h) >= 4),
         |wn_sel AS (SELECT doc_id, h,
         |    list_sort(list_distinct(list_transform(
         |      range(0, len(h) - 4 + 1),
         |      i -> i + 4 - list_position(list_reverse(h[i+1:i+4]),
         |        list_min(h[i+1:i+4]))))) AS sp
         |  FROM wn_hw)""".stripMargin

    // the q211 multi-pass blocking chain as a reusable CTE ending in
    // `mp(id_a, id_b)` (verified pairs) and `g(id_a, id_b, passes)` —
    // shared with the q227 entity-cluster oracle so both provably run
    // on the identical candidate graph
    val multiBlockCte =
      """mk AS (SELECT DISTINCT p_name AS name FROM part),
        |mbk AS (SELECT name,
        |    string_split(name, ' ')[1] AS blk_first,
        |    string_split(name, ' ')[-1] AS blk_last,
        |    array_to_string(list_sort(string_split(name, ' ')), ' ')
        |      AS blk_sorted
        |  FROM mk),
        |mc AS (
        |  SELECT a.name AS id_a, b.name AS id_b, 'first' AS pass
        |  FROM mbk a JOIN mbk b
        |    ON a.blk_first = b.blk_first AND a.name < b.name
        |  UNION ALL SELECT a.name, b.name, 'last'
        |  FROM mbk a JOIN mbk b
        |    ON a.blk_last = b.blk_last AND a.name < b.name
        |  UNION ALL SELECT a.name, b.name, 'sorted'
        |  FROM mbk a JOIN mbk b
        |    ON a.blk_sorted = b.blk_sorted AND a.name < b.name),
        |g AS (SELECT id_a, id_b,
        |    array_to_string(list_sort(list(DISTINCT pass)), ',')
        |      AS passes
        |  FROM mc GROUP BY 1, 2),
        |mp AS (SELECT id_a, id_b FROM g
        |  WHERE levenshtein(id_a, id_b) <= 3)""".stripMargin

  // ---- batch/streaming shared oracles -----------------------------------

  /** ONE oracle for the tumbling-counts pair: q60 (batch) and q235 (the
    * STREAMING engine's own complete-mode final table) — the CC-family
    * one-oracle-per-semantics pattern applied across deployment modes.
    */
  val tumblingCountsSql: String =
    s"""SELECT (${epochSql("ts")} // 3600) * 3600 AS window_start, event_type,
       | COUNT(*) AS n, ${dsumS("value")} AS total_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ONE oracle for the sliding-counts pair: q61 (batch explode over
    * the size/slide window set) and q259 (the STREAMING window()
    * engine's complete-mode final table). */
  val slidingCountsSql: String =
    s"""WITH es AS (SELECT event_type, ${epochSql("ts")} AS es FROM events),
       |win AS (SELECT event_type,
       |  ((es - CAST(i.i AS BIGINT) * 3600) // 3600) * 3600 AS window_start
       |  FROM es CROSS JOIN range(0, 2) AS i(i))
       |SELECT window_start, event_type, COUNT(*) AS n
       |FROM win WHERE window_start >= 0
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ONE oracle for the gap-session pair: q67 (batch session_window) and
    * q236 (streaming session_window, complete mode). */
  val sessionWindowSql: String =
    s"""WITH es AS (SELECT user_id, event_id, ${epochSql("ts")} AS es FROM events),
       |flagged AS (SELECT user_id, event_id, es,
       |  CASE WHEN es - lag(es, 1) OVER w > 1800 THEN 1
       |       WHEN lag(es, 1) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
       |  FROM es WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
       |sessions AS (SELECT user_id, es,
       |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY es, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged)
       |SELECT user_id, MIN(es) AS session_start, MAX(es) + 1800 AS session_end,
       |  COUNT(*) AS n_events
       |FROM sessions GROUP BY user_id, session_id
       |ORDER BY user_id, session_start""".stripMargin

  // ---- JPEG oracle pieces (q234) ----------------------------------------

  /** The fixed integer DCT basis as a DuckDB nested-list literal —
    * interpolated from graft.ops.Jpeg.Basis, ONE source of truth for
    * both engines (Jpeg.scala scaladoc). */
  val jpegBasisSql: String =
    graft.ops.Jpeg.Basis.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  /** Annex-K luminance quant table (natural order), from Jpeg.QTable. */
  val jpegQtSql: String = graft.ops.Jpeg.QTable.mkString("[", ",", "]")

  /** Exact integer floor division for a possibly-negative numerator
    * (d > 0): subtract the non-negative remainder, then the division is
    * exact (DuckDB `//` truncates, which equals floor on exact
    * divisions). Mirrors Scala's Math.floorDiv. */
  def jfloorDivSql(a: String, d: Long): String =
    s"((($a) - (((($a) % $d) + $d) % $d)) // $d)"

  /** Round-half-up division floor((2a + d) / 2d) — Jpeg.divHalfUp. */
  def jdivHalfUpSql(a: String, d: Long): String =
    jfloorDivSql(s"2*($a) + $d", 2 * d)

  // ---- MMR greedy chain (q244) ------------------------------------------

  /** The k-round MMR greedy selection unrolled as CTE stages
    * (Sim.mmrTopK scaladoc): relevance + candidate-candidate cosines
    * 4dp-floored once, then each round anti-joins the picked set,
    * takes the max diversity sim against picked, and argmaxes
    * `lam·rel − om·div` per query with ties to the lowest c_id.
    * `om` is interpolated at full Scala-double precision (1.0 − λ is
    * NOT the decimal 0.3 — the engines must agree on the exact double).
    */
  def mmrChainSql(k: Int, lambda: Double): String = {
    val lam = lambda.toString
    val om = (1.0 - lambda).toString
    def cos(a: String, b: String, an: String, bn: String): String =
      Num.floorAtSql(
        s"list_sum(list_transform(range(1, len($a)+1), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) " +
          s"/ ($an * $bn)", 4)
    val stages = (2 to k).map { i =>
      val p = i - 1
      s"""r$i AS (SELECT r.q_id, r.c_id, r.rel FROM rel r
         |  LEFT JOIN s$p s ON r.q_id = s.q_id AND r.c_id = s.c_id
         |  WHERE s.c_id IS NULL),
         |d$i AS (SELECT r.q_id, r.c_id, r.rel, max(cc.s) AS div
         |  FROM r$i r JOIN s$p sel ON r.q_id = sel.q_id
         |  JOIN cc ON cc.a_id = r.c_id AND cc.b_id = sel.c_id
         |  GROUP BY 1, 2, 3),
         |w$i AS MATERIALIZED (SELECT q_id, c_id, $i AS rk, mmr FROM (
         |  SELECT q_id, c_id, $lam * rel - $om * div AS mmr,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY $lam * rel - $om * div DESC, c_id) AS rn
         |  FROM d$i) WHERE rn = 1),
         |s$i AS MATERIALIZED (SELECT * FROM s$p
         |  UNION ALL SELECT * FROM w$i)""".stripMargin
    }
    s"""nr AS MATERIALIZED (SELECT vec_id, embedding AS v,
       |    sqrt(list_sum(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE)
       |         * CAST(embedding[i] AS DOUBLE)))) AS n
       |  FROM embeddings),
       |rel AS MATERIALIZED (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${cos("q.v", "c.v", "q.n", "c.n")} AS rel
       |  FROM nr q JOIN nr c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |cc AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cos("a.v", "b.v", "a.n", "b.n")} AS s
       |  FROM nr a JOIN nr b ON a.vec_id <> b.vec_id),
       |s1 AS MATERIALIZED (SELECT q_id, c_id, 1 AS rk,
       |    $lam * rel - $om * 0.0 AS mmr FROM (
       |  SELECT q_id, c_id, rel, row_number() OVER (PARTITION BY q_id
       |    ORDER BY $lam * rel - $om * 0.0 DESC, c_id) AS rn FROM rel)
       |  WHERE rn = 1),
       |${stages.mkString(",\n")}""".stripMargin
  }

  // ---- BPE merge chain (q237/q238) --------------------------------------

  /** The k-iteration BPE merge chain as a WITH-clause body ending at
    * dictionary state `w{k}` (word, s, f) with per-iteration winners
    * `m{i}` (Bpe.scala scaladoc: bracketed-symbol strings, literal
    * `replace` per merge, ties to the lexicographically smallest pair).
    * CTEs referenced twice are MATERIALIZED — DuckDB would otherwise
    * inline the chain into 2^k copies of the corpus scan (measured:
    * >120 s inlined vs 0.13 s materialized at sf0.01, k=12).
    */
  def bpeChainSql(k: Int): String = {
    val stages = (1 to k).map { i =>
      val p = i - 1
      s"""li$i AS (SELECT string_split(s[2:-2], chr(2)||chr(1)) AS l, f
         |  FROM w$p),
         |px$i AS (SELECT UNNEST(range(1, len(l))) AS x, l, f FROM li$i),
         |p$i AS (SELECT l[x] AS a, l[x+1] AS b, CAST(SUM(f) AS BIGINT) AS c
         |  FROM px$i GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, c FROM p$i
         |  ORDER BY c DESC, a, b LIMIT 1),
         |w$i AS MATERIALIZED (SELECT w.word,
         |    COALESCE(replace(w.s,
         |      chr(1)||b.a||chr(2)||chr(1)||b.b||chr(2),
         |      chr(1)||b.a||b.b||chr(2)), w.s) AS s, w.f
         |  FROM w$p w LEFT JOIN b$i b ON TRUE),
         |m$i AS (SELECT $i AS merge_rank, a AS left_sym, b AS right_sym,
         |  c AS pair_count FROM b$i)""".stripMargin
    }
    s"""tok AS (SELECT $cleanToks AS t FROM (SELECT $clean AS c
       |  FROM documents)),
       |w0 AS MATERIALIZED (SELECT word,
       |    regexp_replace(word, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s,
       |    CAST(count(*) AS BIGINT) AS f
       |  FROM (SELECT UNNEST(t) AS word FROM tok) GROUP BY 1),
       |${stages.mkString(",\n")}""".stripMargin
  }

  // ---- PQ per-subspace k-means chains (q252/q254/q255) -------------------

  /** The doubled-embedding base CTE the PQ family's oracles share:
    * `e(vec_id, v)` with v = the embedding cast to double list. */
  val pqEmbCte: String =
    """e AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings)""".stripMargin

  /** Exact L2 brute top-5 over `e` (queries = vec_id < 10) as a CTE
    * `tr(q_id, c_id)` — the PQ family's ground truth (Sim.topKL2's
    * 9dp-floored, lowest-c_id-tie ranking). */
  def pqL2TruthCte(dim: Int): String =
    s"""tr AS MATERIALIZED (SELECT q_id, c_id FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |      floor(list_sum(list_transform(range(1, ${dim + 1}),
       |        i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])))
       |        * 1000000000) ASC,
       |      c.vec_id ASC) AS rk
       |  FROM e q JOIN e c
       |    ON q.vec_id < 10 AND q.vec_id <> c.vec_id) WHERE rk <= 5)"""
      .stripMargin

  /** Parameterized per-subspace PQ k-means chains (Jégou et al. 2011
    * §II — Sim.pqCodebooks' exact discipline): `nSub` chains over
    * `subDim`-wide slices of an `e(vec_id, v)` CTE already in scope,
    * each init = the `nCode` lowest-id subvectors, `iters` Lloyd rounds
    * (decimal means float-roundtripped, 9dp-floored argmin, ties to the
    * lowest code). Re-referenced CTEs are MATERIALIZED (the
    * iterative-oracle rule — they otherwise inline exponentially).
    *
    * Emits, per subspace s: `pe$tag$s(vec_id, sv)` subvectors,
    * `pc${tag}${iters}_$s(code, cv)` the FINAL codebook,
    * `paf${tag}_$s(vec_id, sv, code)` final assignments,
    * `pqd${tag}_$s(q_id, code, d)` query→codeword ADC tables (queries =
    * vec_id < 10); plus `pcodes$tag(vec_id, k0..k{nSub-1})` — the joined
    * per-vector code row. With `sdc = true` also `pcc${tag}_$s(ka, kb,
    * d)` codeword-pair tables. Distinct `tag`s let two parameterizations
    * share one WITH clause (q255's knob sweep).
    */
  def pqChainsSql(nSub: Int, nCode: Int, subDim: Int, iters: Int,
                  tag: String = "", sdc: Boolean = false,
                  trainWhere: String = "TRUE"): String = {
    // `trainWhere` restricts the TRAINING rows (seed + update rounds)
    // — the frozen-quantizer discipline (q280/q299): codebooks learn
    // on the standing slice, but the final assignment (paf/pcodes)
    // and the query LUTs always cover the WHOLE corpus. TRUE = the
    // classic whole-corpus training, byte-identical results.
    def l2d(e: String, c: String) =
      s"list_sum(list_transform(range(1, ${subDim + 1}), i -> " +
        s"($e.sv[i] - $c.cv[i]) * ($e.sv[i] - $c.cv[i])))"
    def assignCte(s: Int, cents: String, out: String,
                  src: String = "") =
      s"""$out AS MATERIALIZED (
         |  SELECT vec_id, sv, code FROM (
         |    SELECT e.vec_id, e.sv, c.code,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        floor(${l2d("e", "c")} * 1000000000) ASC,
         |        c.code ASC) AS rn
         |    FROM ${if (src.isEmpty) s"pe$tag$s" else src} e
         |    CROSS JOIN $cents c) WHERE rn = 1)"""
        .stripMargin
    def updateCte(asg: String, prev: String, out: String) =
      s"""${out}m AS MATERIALIZED (
         |  SELECT code, p.pos AS pos,
         |    CAST(SUM(CAST(a.sv[p.pos] AS DECIMAL(27,10))) AS DOUBLE)
         |      / COUNT(*) AS m
         |  FROM $asg a CROSS JOIN range(1, ${subDim + 1}) AS p(pos)
         |  GROUP BY code, p.pos),
         |${out}l AS (
         |  SELECT code,
         |    list(CAST(CAST(m AS REAL) AS DOUBLE) ORDER BY pos) AS cv
         |  FROM ${out}m GROUP BY code),
         |$out AS MATERIALIZED (
         |  SELECT p.code, COALESCE(l.cv, p.cv) AS cv
         |  FROM $prev p LEFT JOIN ${out}l l ON l.code = p.code)"""
        .stripMargin
    def chain(s: Int): String = {
      val fin = s"pc$tag${iters}_$s"
      val frozen = trainWhere != "TRUE"
      val trainSrc = if (frozen) s"ptr$tag$s" else s"pe$tag$s"
      val init = Seq(
        s"""pe$tag$s AS MATERIALIZED (
           |  SELECT vec_id, list_slice(v, ${s * subDim + 1},
           |    ${s * subDim + subDim}) AS sv FROM e)""".stripMargin) ++
        (if (frozen) Seq(
          s"""ptr$tag$s AS MATERIALIZED (
             |  SELECT vec_id, sv FROM pe$tag$s
             |  WHERE $trainWhere)""".stripMargin)
         else Nil) ++ Seq(
        s"""pc${tag}0_$s AS MATERIALIZED (
           |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
           |    sv AS cv
           |  FROM (SELECT vec_id, sv FROM $trainSrc ORDER BY vec_id
           |        LIMIT $nCode))""".stripMargin)
      val rounds = (1 to iters).map { it =>
        s"""${assignCte(s, s"pc$tag${it - 1}_$s", s"pa$tag${it}_$s",
             trainSrc)},
           |${updateCte(s"pa$tag${it}_$s", s"pc$tag${it - 1}_$s",
                s"pc$tag${it}_$s")}""".stripMargin
      }
      val tail = Seq(
        assignCte(s, fin, s"paf${tag}_$s"),
        s"""pqd${tag}_$s AS MATERIALIZED (
           |  SELECT e.vec_id AS q_id, c.code, ${l2d("e", "c")} AS d
           |  FROM pe$tag$s e CROSS JOIN $fin c WHERE e.vec_id < 10)"""
          .stripMargin) ++
        (if (sdc) Seq(
          s"""pcc${tag}_$s AS MATERIALIZED (
             |  SELECT a.code AS ka, b.code AS kb,
             |    list_sum(list_transform(range(1, ${subDim + 1}),
             |      i -> (a.cv[i] - b.cv[i]) * (a.cv[i] - b.cv[i]))) AS d
             |  FROM $fin a CROSS JOIN $fin b)""".stripMargin)
         else Nil)
      (init ++ rounds ++ tail).mkString(",\n")
    }
    val codesJoin = (1 until nSub)
      .map(s =>
        s"JOIN paf${tag}_$s ON paf${tag}_$s.vec_id = paf${tag}_0.vec_id")
      .mkString("\n  ")
    val codeCols = (0 until nSub)
      .map(s => s"paf${tag}_$s.code AS k$s").mkString(", ")
    ((0 until nSub).map(chain) :+
      s"""pcodes$tag AS MATERIALIZED (
         |  SELECT paf${tag}_0.vec_id, $codeCols
         |  FROM paf${tag}_0
         |  $codesJoin)""".stripMargin).mkString(",\n")
  }

  /** Whole-corpus ADC top-5 over `pcodes$tag` + `pqd${tag}_*`: emits
    * `adck$tag(q_id, c_id)` — Sim.pqTopK's asymmetric retriever. */
  def pqAdcTopkCtes(nSub: Int, tag: String = ""): String = {
    val joins = (0 until nSub).map(s =>
      s"JOIN pqd${tag}_$s qd$s ON qd$s.code = kc.k$s" +
        (if (s == 0) "" else s" AND qd$s.q_id = qd0.q_id"))
      .mkString("\n  ")
    val dsum = (0 until nSub).map(s => s"qd$s.d").mkString(" + ")
    s"""adc$tag AS (
       |  SELECT qd0.q_id, kc.vec_id AS c_id,
       |    floor(($dsum) * 1000000000) AS dk
       |  FROM pcodes$tag kc
       |  $joins
       |  WHERE qd0.q_id <> kc.vec_id),
       |adck$tag AS (SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dk ASC, c_id ASC) AS rk FROM adc$tag) WHERE rk <= 5)"""
      .stripMargin
  }
}
