package graft
import org.apache.spark.sql.SparkSession
/** Benchmark main. Contract with the driver: print ONE compact JSON line on
  * stdout — `{"metric":"total","value":N,"unit":"sec",...}` — small enough
  * that the driver's line capture can always parse it (rounds 1-3 shipped
  * the full 98-entry per-query map on stdout and the driver recorded
  * `"parsed": null` from the truncated tail every time). The per-query
  * detail goes to stderr AND to `bench_details.json` in the cwd.
  *
  * Timing methodology: per query, one UNTIMED warm-up rep then `reps`
  * timed reps run consecutively (default 3, env SPARK_GRAFT_BENCH_REPS);
  * per-query MEDIAN reported, raw samples dumped. Round-over-round deltas
  * from single-shot timings were dominated by shared-JVM noise (the
  * round-3 "regressions" q41/q60/q62/q65 all evaporated on rerun); medians
  * across warmed in-process reps are stable to ~10%.
  *
  * Roster: every registered query in `SparkEntry.queries` order — the
  * registry holds one engine per contract (plus the routers that pick
  * between engines), so there is no second list of queries to skip.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM (scan codegen, parquet footers) so query 1 isn't
    // charged the session's one-time costs
    Tables.schemas.keys.foreach(t => Tables.load(spark, sfDir, t).count())
    // ... and the noop writer + agg/exchange codegen paths, which the
    // count() warmup doesn't touch (query 1 paid ~4s of this in round 1)
    Tables.load(spark, sfDir, "nation")
      .groupBy("n_regionkey")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_nationkey")
          .cast("decimal(18,2)")))
      .write.format("noop").mode("overwrite").save()
    val errors = scala.collection.mutable.LinkedHashSet.empty[String]
    // optional subset (dev loop): time just the named queries; fail
    // loudly on a typo rather than printing a phantom 0-second total
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    // the timed roster: every registered query, or just the named subset
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.forall(_.contains(n)))
    // times(name) = one entry per rep that completed
    val times = scala.collection.mutable.LinkedHashMap(
      names.map(_ -> scala.collection.mutable.ListBuffer.empty[Double]): _*)
    // reps run CONSECUTIVELY per query (not interleaved passes over the
    // set): the per-query median then measures steady state and cannot be
    // poisoned by slow JVM-state drift across the run — with interleaved
    // passes, a query late in the list had all its reps sampled late,
    // and round-5 measured q121 at 26.5 s interleaved vs 4-6 s in a
    // fresh JVM (same plan, same data; the drift, not the query)
    // rep 0 is an UNTIMED warm-up: it pays the query's one-time costs
    // (whole-stage codegen compilation, broadcast builds, shuffle-file
    // page-cache warming) so the timed reps measure steady state. The
    // round-5 tail had single reps 4x the median with no JVM cause
    // (host noise lands hardest on cold first executions); warm-up plus
    // median-of-3 keeps every query's max/median rep ratio bounded.
    for (name <- names; rep <- 0 to reps) {
      val fn = SparkEntry.queries(name)
      // Drop the previous query's localCheckpoint blocks: checkpointed
      // RDDs stay pinned in the block manager until the ContextCleaner
      // gets to them, so a 100+-query session otherwise accumulates GBs
      // of live storage and every allocation-heavy stage late in the run
      // drowns in full GCs (measured: the same aging pass 193 s with the
      // leak vs 125 s without; q121 stages with 300+ s of summed task
      // GC). Long-lived production sessions need this same hygiene.
      // The Artifacts layer needs no exemption: its finals are parquet
      // files, not checkpoint blocks (round 7 exempted its pinned
      // localCheckpoints from this sweep and paid a uniform ~2x GC drag
      // on every unrelated small query for it — Artifacts.scala doc).
      spark.sparkContext.getPersistentRDDs
        .values.foreach(_.unpersist(blocking = false))
      // collect the previous query's garbage outside the timed region:
      // cross-query GC debt is the main timing poison in a shared JVM
      // (round-1 driver run: q26 hit 315s on a query that runs in <2s)
      System.gc()
      val t0 = System.nanoTime()
      // noop sink fully materializes every row — count() would let
      // Catalyst prune the computed columns of projection-shaped queries
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (rep > 0) times(name) += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        errors += name
        System.err.println(s"[bench] $name failed (rep $rep): ${e.getMessage}")
      }
    }
    // final sweep (blocking), then record what stayed pinned: with the
    // parquet-backed artifact store NOTHING should survive the sweep —
    // round 7's exempt-forever checkpoint artifacts measured a uniform
    // ~2x GC drag on unrelated small queries, and this field is the
    // regression tripwire for that mechanism
    spark.sparkContext.getPersistentRDDs
      .values.foreach(_.unpersist(blocking = true))
    val pinnedRdds = spark.sparkContext.getPersistentRDDs.size
    // JVM-aging tripwire (round-8 residual drift: clean-session 109.2 s
    // vs end-of-round 137.7 s on the same 194 queries with pinned_rdds
    // already 0): record end-of-bench old-gen occupancy AFTER a forced
    // full collection, plus cumulative GC counts/time, so the next
    // round can tell real plan cost from an aged heap. A large settled
    // old-gen here = live leaked state; large full_gc_count with small
    // settled old-gen = allocation churn that aged the run but died.
    System.gc()
    // SUM across all old-gen-like pools (G1 "G1 Old Gen", Serial
    // "Tenured Gen", ZGC "ZHeap", Shenandoah's single "Shenandoah"
    // pool) — keeping only the last match under-reported multi-pool
    // collectors, and -1 stays the explicit "no pool recognized"
    // sentinel. Pool/collector names ride along in the JSON so a -1 or
    // a surprising number is diagnosable, not guessed at.
    val oldPool = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asInstanceOf[java.util.List[java.lang.management.MemoryPoolMXBean]]
    var oldUsedMb = -1L
    val oldPoolNames = scala.collection.mutable.ListBuffer[String]()
    oldPool.forEach { p =>
      if (p.getName.contains("Old") || p.getName.contains("Tenured") ||
        p.getName.contains("ZHeap") || p.getName.contains("Shenandoah")) {
        oldUsedMb = math.max(oldUsedMb, 0L) +
          p.getUsage.getUsed / (1024 * 1024)
        oldPoolNames += p.getName
      }
    }
    // single-generation collectors (non-generational ZGC "ZHeap",
    // Shenandoah's one pool) expose the WHOLE heap as the matched pool
    // — young churn included — so "settled old-gen" is unmeasurable
    // there: report the honest -1 sentinel (names still ride along in
    // gc_pools) rather than a number that inverts the leak diagnostic.
    if (oldPoolNames.forall(n =>
        n.contains("ZHeap") || n == "Shenandoah") && oldUsedMb >= 0)
      oldUsedMb = -1L
    var gcCount = 0L; var gcTimeSec = 0.0; var fullGcCount = 0L
    val gcNames = scala.collection.mutable.ListBuffer[String]()
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { g =>
      gcCount += math.max(g.getCollectionCount, 0)
      gcTimeSec += math.max(g.getCollectionTime, 0) / 1e3
      gcNames += g.getName
      // "Old"/"MarkSweep"/"Full" covers G1/Serial/Parallel; ZGC's major
      // collector is "ZGC Major Cycles" (older JDKs: "ZGC Cycles"),
      // Shenandoah's is "Shenandoah Cycles" — those collectors have no
      // stop-the-world full GC, so their cycle count is the nearest
      // analogue rather than a silent 0
      if (g.getName.contains("Old") || g.getName.contains("MarkSweep") ||
        g.getName.contains("Full") || g.getName.contains("ZGC Major") ||
        g.getName.contains("ZGC Cycles") ||
        g.getName.contains("Shenandoah Cycles"))
        fullGcCount += math.max(g.getCollectionCount, 0)
    }
    val gcPoolsJson = (oldPoolNames.map("pool:" + _) ++
      gcNames.map("gc:" + _))
      .map("\"" + _.replace("\"", "'") + "\"").mkString("[", ",", "]")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val med = names.map(n => n -> median(times(n).toSeq))
    val ok = med.filterNot { case (_, v) => v.isNaN }
    val total = ok.map(_._2).sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // raw per-rep samples (diagnosis: a high median with tight raws is a
    // real cost; a high median with one outlier rep is environment)
    val raw = names.filter(times(_).nonEmpty)
      .map(n => s"\"" + n + "\":" + times(n).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"pinned_rdds":$pinnedRdds,"oldgen_settled_mb":$oldUsedMb,"full_gc_count":$fullGcCount,"gc_count":$gcCount,"gc_time_sec":$gcTimeSec,"gc_pools":$gcPoolsJson,"queries":$qs,"raw":$raw,"errors":$errs,"sf":"$sfDir"}"""
    System.err.println(detail)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_details.json"), detail + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write bench_details.json: $e")
    }
    // the one stdout line — compact on purpose, see scaladoc
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"n_queries":${ok.size},"pinned_rdds":$pinnedRdds,"oldgen_settled_mb":$oldUsedMb,"full_gc_count":$fullGcCount,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
