package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Queries are materialized through the noop sink — `.count()` would
  * let Catalyst prune every computed column and under-measure by 10×.
  * A warmup query first so JVM/codegen startup isn't billed to the
  * first query in the map.
  *
  * The compact stdout line carries totals + a headline subset (it must
  * survive the driver's 2000-char tail capture); the FULL per-query
  * map — per run, when SPARK_GRAFT_BENCH_RUNS > 1, plus min across
  * runs — is written machine-readable to SPARK_GRAFT_BENCH_OUT
  * (default BENCH_FULL.json) so every timing survives somewhere
  * parseable.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // default 3: a single run under shared-box load records pure host
    // noise; best-of-3 is the committed convention (see BENCH_FULL.json)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // driver-generated parquet carries NAIVE (no-tz) µs timestamps;
      // read them as TIMESTAMP (LTZ, session=UTC) like Spark <3.4 did
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      } finally
        // deterministic scratch reclaim between keys: the engine's
        // listener releases per-call persisted frames after the noop
        // write anyway, but the listener bus is async — an explicit
        // release pins "no block-manager growth across 471 keys"
        // regardless of event-delivery timing. NOTE: the finally runs
        // before nanoTime() is read, so the release (cheap
        // unpersist(blocking=false) bookkeeping) IS billed to the key
        // — deliberately, since a real pipeline pays its own cleanup
        graft.operators.Scratch.release(spark)
      (System.nanoTime() - t0) / 1e9
    }

    // warmup: JIT + codegen + parquet footer caches
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // optional subset (comma-separated keys) for targeted runs — the
    // sf1 scaling measurement benches the ~20 hottest keys without
    // paying a full-suite pass; the driver never sets this, so the
    // per-round full bench is unchanged
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // a subset run writing the default output would replace the FULL
    // merged floor file with a subset-only floor map — silent loss of
    // every other key's floor history
    require(only.isEmpty || outPath != "BENCH_FULL.json",
      "SPARK_GRAFT_BENCH_ONLY requires an explicit SPARK_GRAFT_BENCH_OUT")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // between RUNS (not keys) the catalog cache drops entirely, so the
    // long-lived plan-keyed corpus memos (docShingles, ANN vecs) are
    // rebuilt once per run instead of accumulating — run3 now measures
    // the same storage state as run1, separating box noise from any
    // future leak in the per-run arrays (set =0 to keep caches across
    // runs). localCheckpoint-backed `Artifacts` frames are unaffected.
    val clearBetweenRuns =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CLEARCACHE", "1") != "0"
    val runs: Seq[Seq[(String, Double)]] = (1 to nRuns).map { r =>
      if (r > 1 && clearBetweenRuns) spark.catalog.clearCache()
      names.map { n =>
        val t = run(n)
        System.err.println(f"[bench] run$r $n%-24s ${t}%.3f sec")
        n -> t
      }
    }
    // best-of-runs map: min is the standard noise-robust point estimate
    val byName: Map[String, Double] = names.map { n =>
      val ts = runs.map(_.toMap.apply(n)).filter(_ >= 0)
      n -> (if (ts.isEmpty) -1.0 else ts.min)
    }.toMap
    val total = byName.values.filter(_ >= 0).sum
    // the COLD map (run 1): the only per-key numbers that include every
    // one-time session-artifact build — an artifact consumer's best-of-3 is
    // a warm filter over a checkpointed artifact, so a 2x slowdown in
    // the build is invisible to `best`; run 1 pays it and reports it
    val cold: Map[String, Double] = runs.head.toMap
    val totalCold = cold.values.filter(_ >= 0).sum

    // the MERGED FLOOR: per-key min across every bench run ever
    // committed (carried in BENCH_FULL.json's "floor", seeded from
    // "best" for pre-floor files). A fresh best-of-3 under shared-box
    // load reads ~10% above the historical floor — that's sampling
    // depth, not regression, so the floor is what regressions are
    // judged against AND what the committed artifact preserves.
    // Floors are only comparable within one measurement methodology:
    // the pre-r19 floors were best-of-83 minima accumulated under the
    // leak-warm harness (runs 2-3 inherited run 1's corpus caches), a
    // state a fresh cache-cold best-of-3 can never reach — 23 of the
    // r18 driver flags were that methodology gap, not regressions. A
    // floor file without this marker is archived once and the floor
    // re-seeded from the current (clearCache) methodology.
    val FloorMethod = "clearcache_cold_v2"
    val (prevFloor, prevFloorCold, prevFloorRuns)
        : (Map[String, Double], Map[String, Double], Int) = {
      val f = Paths.get(outPath)
      if (!Files.exists(f)) (Map.empty, Map.empty, 0)
      else try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(f.toFile)
        // the floor is SF-scoped: merging a different scale factor's
        // times would corrupt it (an sf0.001 run is ~30x faster than
        // the sf0.1 floor it would silently undercut)
        if (root.has("sf") && root.get("sf").asText() != sfDir)
          throw new IllegalStateException("different sf; fresh floor")
        if (!root.has("floor_method")
            || root.get("floor_method").asText() != FloorMethod) {
          val arch = Paths.get(outPath + ".pre_" + FloorMethod)
          if (!Files.exists(arch)) Files.copy(f, arch)
          System.err.println(s"[bench] floor methodology changed; old " +
            s"floors archived to $arch, floor re-seeded from this run")
          throw new IllegalStateException("floor methodology reset")
        }
        def readMap(field: String): Map[String, Double] = {
          val m = scala.collection.mutable.Map[String, Double]()
          val node = root.get(field)
          if (node != null) {
            val it = node.fields()
            while (it.hasNext) { val e = it.next()
              m(e.getKey) = e.getValue.asDouble() }
          }
          m.toMap
        }
        val r = if (root.has("floor_runs")) root.get("floor_runs").asInt()
          else if (root.has("n_runs")) root.get("n_runs").asInt() else 0
        (readMap("floor"), readMap("floor_cold"), r)
      } catch { case _: Exception => (Map.empty, Map.empty, 0) }
    }
    def mergeFloor(prev: Map[String, Double],
        now: Map[String, Double]): Map[String, Double] = names.map { n =>
      val cur = now.getOrElse(n, -1.0)
      // a recorded -1 means "failed that run" — treat as absent, or a
      // one-off environment failure would poison the floor forever
      val old = prev.get(n).filter(_ >= 0).getOrElse(Double.MaxValue)
      n -> (if (cur < 0) (if (old == Double.MaxValue) -1.0 else old)
        else math.min(cur, old))
    }.toMap
    val floor = mergeFloor(prevFloor, byName)
    val floorCold = mergeFloor(prevFloorCold, cold)
    val floorTotal = floor.values.filter(_ >= 0).sum
    // regression tracker: flag keys measurably above the floor BOTH
    // relatively (>1.5x) and absolutely (>0.5 s) — kills the
    // best-of-depth noise that masquerades as regression on sub-second
    // keys while still catching a real structural slowdown. Checked on
    // BOTH arrays: `best` (warm steady state) and `cold` (run 1, the
    // only array where an ARTIFACT BUILD regression is visible —
    // a consumer key's warm best is a filter over the built artifact
    // and stays flat no matter how slow the build got).
    def flag(now: Map[String, Double], fl: Map[String, Double])
        : Seq[String] = names.filter { n =>
      val cur = now.getOrElse(n, -1.0); val f = fl.getOrElse(n, -1.0)
      cur >= 0 && f >= 0 && cur > 1.5 * f && cur - f > 0.5
    }
    val regBest = flag(byName, prevFloor)
    val regCold = flag(cold, prevFloorCold)
    val regressions = (regBest ++ regCold).distinct
      .sortBy(n => -(byName.getOrElse(n, 0.0)))
    regBest.foreach(n => System.err.println(
      f"[bench] REGRESSION $n: ${byName(n)}%.2f s vs floor ${prevFloor(n)}%.2f s"))
    regCold.foreach(n => System.err.println(
      f"[bench] REGRESSION(cold) $n: ${cold(n)}%.2f s vs cold floor ${prevFloorCold(n)}%.2f s"))

    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // full machine-readable dump: per-run maps + this run's best map +
    // the cumulative merged floor (the committed point of comparison)
    val fullJson =
      s"""{"sf":"$sfDir","n_queries":${names.size},"n_runs":$nRuns,
         |"floor_method":"$FloorMethod",
         |"total_best":$total,
         |"total_cold":$totalCold,
         |"floor_runs":${prevFloorRuns + nRuns},
         |"floor_total":$floorTotal,
         |"regressions":[${regressions.map("\"" + _ + "\"").mkString(",")}],
         |"runs":[${runs.map(r => jmap(r)).mkString(",")}],
         |"best":${jmap(names.map(n => n -> byName(n)))},
         |"cold":${jmap(names.map(n => n -> cold.getOrElse(n, -1.0)))},
         |"floor":${jmap(names.map(n => n -> floor(n)))},
         |"floor_cold":${jmap(names.map(n => n -> floorCold(n)))}}"""
        .stripMargin.replace("\n", "")
    Files.writeString(Paths.get(outPath), fullJson)
    System.err.println(s"[bench] full per-query map -> $outPath")

    // the one stdout JSON line stays compact: totals + a headline
    // subset, so it survives the driver's tail capture intact
    val headline = Seq("q1_pricing_summary", "q3_shipping_priority",
      "q9_product_profit", "q18_large_orders", "mr_wordcount",
      "dedup_ngram_jaccard", "dedup_minhash_lsh", "ann_topk_brute",
      "text_bm25", "q_pagerank", "q_bucketed_join", "stream_events_hourly")
    // under SPARK_GRAFT_BENCH_ONLY the headline shrinks to the subset
    // actually run; a FULL run still fails loudly on a renamed key
    val unknown = headline.filterNot(byName.contains)
    require(only.isDefined || unknown.isEmpty,
      s"headline names not in the registry: ${unknown.mkString(",")}")
    val qs = jmap(headline.filter(byName.contains).map(k => k -> byName(k)))
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_cold":$totalCold,"n_queries":${names.size},"n_runs":$nRuns,"floor_total":$floorTotal,"n_regressions":${regressions.size},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
