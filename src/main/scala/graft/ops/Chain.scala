package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** The segment ALGEBRA of a maintained index chain, shared by the two
  * physical stores ([[AnnIndex]], [[LexIndex]]) — round 17's
  * generalization of the r16 tombstone design: a delete is a segment
  * TYPE inside a named chain, not a sibling root bolted onto the
  * chain head, so append→delete→append histories exist and every
  * version of a mixed chain is an as-of-readable state (r16 verdict
  * ask #3: "as-of reads across a mixed chain (v0 append, v1 delete,
  * v2 append) are inexpressible").
  *
  * A chain is an ordered list of segments; each is either
  *   - an APPEND of a corpus slice (disjoint from every other
  *     append's slice — the [[LexIndex.merge]] disjointness,
  *     by construction of the chain's split predicates), or
  *   - a DELETE of a predicate over the corpus LIVE when it runs
  *     (capture-time semantics: the published tombstone ids are the
  *     matching docs that exist at that version — a later append may
  *     add rows matching the same predicate and they stay live, which
  *     is what distinguishes a delete segment from a global filter).
  *
  * Segment identity drives storage: a segment's store root is keyed
  * by the PREFIX of segment ids up to it (e.g. `std`, `std.d0`,
  * `std.del7.d`), not by (chain name, version) — so chains sharing a
  * prefix share the published bytes. The default 2-segment chain and
  * the 3-segment "c3" chain both start with the standing slice, and
  * under prefix keying its segment — the most expensive build in the
  * history — is built and stored ONCE (r16 advice: c3 duplicated v0
  * on both the ANN and lex sides). Cumulative side artifacts (the lex
  * `dfcum`/`statscum` pre-folds) are prefix-dependent by nature, so
  * prefix keying is also the CORRECT key for them — two chains may
  * only share a segment when everything before it is identical too.
  */
private[graft] sealed trait Segment { def id: String }

/** An ingest batch: `slice` selects the batch's rows from the fixture
  * corpus. Disjoint from every other append in the chain. */
private[graft] final case class Append(id: String, slice: Column)
    extends Segment

/** A takedown batch: `pred` selects the doomed rows among the corpus
  * LIVE at this point in the chain (capture-time semantics). */
private[graft] final case class Delete(id: String, pred: Column)
    extends Segment

private[graft] object Chains {

  /** The standing/delta corpus split of a maintained index over id
    * column `id`: id % 5 = 0 is the delta. One rule for both stores
    * (vec_id for [[AnnIndex]], doc_id for [[LexIndex]]), so the fully
    * maintained hybrid (q300) splits both arms alike. */
  def deltaSplit(id: String): Column = col(id) % 5 === 0

  /** The takedown split — id % 7 = 3 cuts across BOTH the standing
    * and delta slices, so a delete exercises every segment of the
    * history it masks, and one takedown pass removes the same
    * entities from both arms of the retrieval stack. */
  def deleteSplit(id: String): Column = col(id) % 7 === 3

  /** The chain catalogue of both maintained indexes, as segment lists
    * over id column `id` (ids key the prefix-shared roots):
    *   - ""   — standing (the [[deltaSplit]] complement), then the
    *     delta;
    *   - "c3" — the delta split into TWO ingest batches (mid-chain
    *     as-of reads);
    *   - "c4" — the delta split into THREE batches (the all-append
    *     chain the tiered merge compacts);
    *   - "md" — the default chain plus a head TOMBSTONE segment (the
    *     delete lifecycle as a chain suffix — prefix sharing reuses
    *     the whole default history's bytes);
    *   - "m3" — append → delete → append: the takedown hits the
    *     STANDING corpus, then a batch arrives on the masked index
    *     (capture-time semantics keep a post-delete append's matching
    *     rows live).
    * Appends are pairwise disjoint by construction of the splits (the
    * disjointness the union-fold reads rely on). */
  def catalogue(chain: String, id: String): Seq[Segment] = {
    val std = Append("std", !deltaSplit(id))
    val delta = Append("d", deltaSplit(id))
    val del = Delete("del7", deleteSplit(id))
    chain match {
      case "" => Seq(std, delta)
      case "c3" => Seq(std, Append("d0", col(id) % 10 === 0),
        Append("d5", col(id) % 10 === 5))
      case "c4" => Seq(std, Append("d0", col(id) % 10 === 0),
        Append("d5a", col(id) % 20 === 5),
        Append("d5b", col(id) % 20 === 15))
      case "md" => Seq(std, delta, del)
      case "m3" => Seq(std, del, delta)
      case other => throw new IllegalArgumentException(
        s"unknown chain '$other' (expected \"\"|c3|c4|md|m3)")
    }
  }

  /** Resolve capture-time semantics: for each segment, the EFFECTIVE
    * row predicate of what it publishes — an append's slice as given;
    * a delete's predicate restricted to the corpus live when it runs
    * (so a doc appended AFTER the delete is never captured even if it
    * matches the predicate). Also used to derive the live-corpus
    * predicate as of any version ([[liveAsOf]]).
    */
  def effective(segs: Seq[Segment]): Seq[(Segment, Column)] = {
    var live: Column = lit(false)
    segs.map {
      case a @ Append(_, slice) =>
        live = live || slice
        (a, slice)
      case d @ Delete(_, pred) =>
        val captured = live && pred
        live = live && !pred
        (d, captured)
    }
  }

  /** The live-corpus predicate after segments 0..version — what an
    * as-of read at `version` must serve (the oracle scope). */
  def liveAsOf(segs: Seq[Segment], version: Long): Column = {
    var live: Column = lit(false)
    segs.take(version.toInt + 1).foreach {
      case Append(_, slice) => live = live || slice
      case Delete(_, pred) => live = live && !pred
    }
    live
  }

  /** The store-root prefix for segment `version` of a chain: the
    * dot-joined segment ids up to and including it — the identity
    * that lets chains share common prefixes' published bytes. */
  def prefix(segs: Seq[Segment], version: Int): String =
    segs.take(version + 1).map(_.id).mkString(".")

  /** Segments 0..`version` of `chain` paired with their published
    * `roots` — the part of the history an as-of read folds. */
  def asOf(segs: Seq[Segment], roots: Seq[String], chain: String,
           version: Long): Seq[(Segment, String)] = {
    require(version >= 0L && version < roots.length,
      s"chain '$chain' holds versions 0..${roots.length - 1}" +
        s" (0 = standing, ${roots.length - 1} = head), got $version")
    segs.zip(roots).take(version.toInt + 1)
  }

  /** Measured chain statistics — the inputs of the compaction-policy
    * decision (q324), as ONE LAZY frame (chain, n_segments, n_live,
    * n_tomb) over `chains`. `history` publishes a chain and returns
    * its segment roots; `live` reads the store's one-row `n_live`
    * frame from them (the store-specific half). Tombstones count the
    * delete segments' published id files (∝ batch). All reads are
    * sized to metadata, never the postings, and nothing collects:
    * N chains cost one Spark action over tiny files. */
  def statsFrame(spark: SparkSession, chains: Seq[String], id: String,
                 history: String => Seq[String])(
                 live: Seq[String] => DataFrame): DataFrame =
    chains.map { ch =>
      val roots = history(ch)
      val n = live(roots)
      val delRoots = catalogue(ch, id).zip(roots).collect {
        case (Delete(_, _), r) => r }
      val tomb =
        if (delRoots.isEmpty) n.select(lit(0L).as("n_tomb"))
        else delRoots.map(r => StoreRead.parquet(spark, s"$r/dels"))
          .reduce(_.unionByName(_))
          .agg(count(lit(1)).as("n_tomb"))
      n.crossJoin(tomb).select(
        lit(if (ch.isEmpty) "default" else ch).as("chain"),
        lit(roots.length).as("n_segments"),
        col("n_live"), col("n_tomb"))
    }.reduce(_.unionByName(_))
}
