package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.SyncPipeline
import graft.streaming.EventStream

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("sync pipeline: FK order, upsert, leaf-first GC, stats") {
    val p = SyncPipeline.runDemo(spark, sf)
    val custs = p.table("customers")
    val ords = p.table("orders")
    // GC invariant: every surviving order's FK exists in customers
    val orphan = ords.join(custs.select(col("id").as("cust_id")), Seq("cust_id"), "left_anti")
    assert(orphan.count() == 0)
    assert(p.statsMap("customers").upserted > 0)
    assert(p.statsJson.contains("\"orders\""))
  }

  test("file-backed store: write-then-swap matches in-memory results") {
    val storeDir = java.nio.file.Files.createTempDirectory("sync_store").toString
    val mem = SyncPipeline.runDemo(spark, sf)
    val file = SyncPipeline.runDemo(spark, sf, Some(storeDir))
    for (t <- Seq("customers", "orders")) {
      assert(file.table(t).except(mem.table(t)).count() == 0)
      assert(mem.table(t).except(file.table(t)).count() == 0)
    }
    // both versions persisted: v1 (load) and v2 (gc) — the swap never
    // destroys the previous state, so a failed write can't lose a table
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$storeDir/customers/v1")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$storeDir/customers/v2")))
    assert(file.statsMap("customers").deleted == mem.statsMap("customers").deleted)
  }

  test("two-phase curation ≡ fused dp1, via the Cli verb, with committed artifacts") {
    val ckpt = java.nio.file.Files.createTempDirectory("curation_ckpt").toString
    val fused = graft.queries.Catalog.ordered(
      graft.queries.DataCatalog.dp1.build(spark, sf)).collect().toSeq
    CacheScope.releaseAll()
    val twoPhase = graft.queries.Catalog.ordered(
      Cli.resolve(spark, sf, Seq("curate", "--checkpoint-dir", ckpt))).collect().toSeq
    CacheScope.releaseAll()
    assert(twoPhase == fused)
    // the expensive artifacts are committed tables a restart can reuse
    val store = graft.sources.ParquetStore(ckpt)
    assert(store.table(spark, graft.pipeline.Curation.PairsTable).count() > 0)
    assert(store.table(spark, graft.pipeline.Curation.SurvivorsTable).count() > 0)
  }

  test("corpus-prep Cli verb ≡ direct operator composition, and the export verifies") {
    val ckpt = java.nio.file.Files.createTempDirectory("corpusprep_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("corpusprep_out").toString
    val cli = graft.queries.Catalog.ordered(Cli.resolve(spark, sf,
      Seq("corpus-prep", "--checkpoint-dir", ckpt, "--out", out, "--shards", "4")))
      .collect().toSeq
    CacheScope.releaseAll()
    // reference: the same stages composed directly over the fused dp1
    // curation (two-phase ≡ fused is pinned by the test above)
    val curated = graft.sources.Tables.documents(spark, sf).join(
      graft.queries.DataCatalog.dp1.build(spark, sf).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val direct = graft.queries.Catalog.ordered(graft.pipeline.CorpusPrep.packStats(
      graft.pipeline.CorpusPrep.packedChunks(curated))).collect().toSeq
    CacheScope.releaseAll()
    assert(cli == direct)
    assert(cli.nonEmpty)
    // the export is complete and internally consistent: committed
    // manifest + every shard re-verifies ok from its written bytes
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/MANIFEST.json")))
    val status = graft.operators.Sharding.verify(spark, out,
      col("chunk_key"), col("chunk_text"))
    assert(status.count() == 4)
    assert(status.filter(col("status") =!= "ok").count() == 0)
  }

  test("pretrain-prep Cli verb ≡ the dp5 catalog entry, and the export verifies") {
    val ckpt = java.nio.file.Files.createTempDirectory("pretrain_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("pretrain_out").toString
    val cli = graft.queries.Catalog.ordered(Cli.resolve(spark, sf,
      Seq("pretrain-prep", "--checkpoint-dir", ckpt, "--out", out, "--shards", "4")))
      .collect().toSeq
    CacheScope.releaseAll()
    // reference: the oracle-gated dp5 entry (fused curation; two-phase
    // ≡ fused is pinned above) — same mixture, stride, packing, rank
    val entry = graft.queries.DataCatalog.dp5.build(spark, sf).collect().toSeq
    CacheScope.releaseAll()
    assert(cli == entry)
    assert(cli.nonEmpty)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/MANIFEST.json")))
    val status = graft.operators.Sharding.verify(spark, out,
      col("chunk_key"), col("chunk_text"))
    assert(status.count() == 4)
    assert(status.filter(col("status") =!= "ok").count() == 0)
  }

  test("writeSwap after a driver restart claims a NEW version, never the committed dir") {
    val dir = java.nio.file.Files.createTempDirectory("swap_restart").toString
    val t = "restart_table"
    graft.sources.ParquetStore(dir)
      .writeSwap(spark, t, Seq((1L, "a")).toDF("id", "v"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t/v1/_SUCCESS")))
    // a FRESH store instance (new JVM in real life) re-runs the phase:
    // it must allocate v2 — overwriting committed v1 in place would
    // destroy the only committed copy if this rewrite crashed mid-write
    val fresh = graft.sources.ParquetStore(dir)
    fresh.writeSwap(spark, t, Seq((2L, "b")).toDF("id", "v"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$t/v2/_SUCCESS")))
    assert(fresh.table(spark, t).as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    // and yet another fresh instance reads the v2 it committed
    assert(graft.sources.ParquetStore(dir).table(spark, t)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  /** A source of `n` rows whose every evaluation of a row adds one to
    * `evals` (nondeterministic, so the optimizer neither drops nor
    * duplicates the probe). */
  private def countedRange(n: Long, evals: org.apache.spark.util.LongAccumulator) = {
    val probe = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
    spark.range(n).toDF().filter(probe(col("id")))
  }

  test("SyncPipeline load runs its source once and gc its keep set once") {
    val evals = spark.sparkContext.longAccumulator("sync_source_rows")
    val stores = Seq(None,
      Some(java.nio.file.Files.createTempDirectory("sync_once").toString))
    for (storeDir <- stores) {
      val p = new SyncPipeline(spark, storeDir)
      p.load("t", spark.range(150).select(col("id"), lit("old").as("v")), Seq("id"))
      evals.reset()
      p.load("t", countedRange(100, evals).select(col("id"), lit("new").as("v")), Seq("id"))
      assert(evals.value == 100, s"load ran its source ${evals.value / 100.0} times ($storeDir)")
      assert(p.statsMap("t").upserted == 100)
      evals.reset()
      p.gc("t", countedRange(60, evals), Seq("id"))
      assert(evals.value == 60, s"gc ran its keep set ${evals.value / 60.0} times ($storeDir)")
      assert(p.statsMap("t").deleted == 90 && p.table("t").count() == 60)
    }
  }

  test("gc's deleted count equals Merge.retainDeletes with NULL, duplicate and empty keys") {
    import graft.operators.Merge
    val target = Seq((Some(1L), "a"), (Some(1L), "a2"), (Some(2L), "b"),
      (None, "n"), (None, "n2"), (Some(3L), "c")).toDF("id", "v")
    val keep = Seq(Some(1L), None, Some(3L)).toDF("id")
    val p = new SyncPipeline(spark)
    p.init("t", target)
    p.gc("t", keep, Seq("id"))
    val expected = Merge.retainDeletes(target, keep, Seq("id")).count()
    assert(expected == 3 && p.statsMap("t").deleted == expected)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Option[Long], String)].collect().toSeq.sortBy(_._2)
    assert(rows(p.table("t")) == rows(Merge.retain(target, keep, Seq("id"))))
    // sides that are empty only at run time, which AQE prunes from the
    // join: a load of nothing upserts nothing and keeps every row…
    p.load("t", spark.range(10).filter(col("id") < 0)
      .select(col("id"), lit("x").as("v")), Seq("id"))
    assert(p.statsMap("t").upserted == 0 && p.table("t").count() == 3)
    // …and a gc to nothing deletes every row
    p.gc("t", spark.range(10).toDF().filter(col("id") < 0), Seq("id"))
    assert(p.statsMap("t").deleted == 3 && p.table("t").count() == 0)
  }

  // Job budgets of the sync path: a steady-state step runs its source
  // once, so a change that runs one again — a trailing count(), a second
  // scan of the member assembly, a persist filled only to be counted —
  // fails here. The bounds are the counts single execution reaches; they
  // are a floor to defend, not a setting to raise.
  test("job budget: SyncPipeline load + gc of the member assembly") {
    import graft.queries.Members
    val store = java.nio.file.Files.createTempDirectory("budget_store").toString
    val p = new SyncPipeline(spark, Some(store))
    // the initial load (not counted) fills the store, so the counted
    // load takes the upsert path a steady-state sync takes
    p.load("members", Members.all(spark, sf), Seq("uid"))
    val jobs = new JobCounter(spark)
    try {
      val members = Members.all(spark, sf)
      val load = jobs(p.load("members", members, Seq("uid")))
      val gc = jobs(p.gc("members", members, Seq("uid")))
      info(s"load=$load gc=$gc jobs")
      assert(load <= 24 && gc <= 23, s"sync-app step over budget: load=$load gc=$gc jobs")
    } finally jobs.close()
  }

  test("SyncPipeline releases operator-internal caches (CacheScope driver contract)") {
    import graft.operators.NearDup
    val sc = spark.sparkContext
    CacheScope.releaseAll() // clean slate
    val before = sc.getPersistentRDDs.keySet
    // a curation stage composed into a pipeline run registers persists…
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(NearDup.minhashLsh(docs, col("doc_id"), col("text"), 0.5).count() >= 0)
    val operatorCaches = sc.getPersistentRDDs.keySet -- before
    assert(operatorCaches.nonEmpty,
      "expected a live operator cache before the pipeline driver finished")
    // …and the pipeline driver's end-of-run release cleans exactly those
    // up (the pipeline's own store tables are its to keep — only
    // CacheScope-registered operator intermediates must not outlive it)
    SyncPipeline.runDemo(spark, sf)
    val leaked = sc.getPersistentRDDs.keySet & operatorCaches
    assert(leaked.isEmpty, s"operator caches leaked past SyncPipeline end: $leaked")
  }

  test("dedupClustersSparse ≡ dense dedupClusters (singletons via coalesce)") {
    import graft.operators.NearDup
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val dense = NearDup.dedupClusters(nodes, col("doc_id"), pairs)
      .as[(Long, Long)].collect().toMap
    val sparse = NearDup.dedupClustersSparse(nodes, col("doc_id"), pairs)
      .as[(Long, Long)].collect().toMap
    assert(sparse == dense)
    assert(sparse(4L) == 4L && sparse(7L) == 7L) // singletons self-label
  }

  test("streaming windowed HLL distinct (availableNow) matches batch twin") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_hll")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    EventStream.runWindowHllAvailableNow(spark, dir.toString, "hll_out")
    val streamed = spark.table("hll_out")
      .select("window_start", "event_type", "est")
    val batch = EventStream.windowedHll(Tables.events(spark, sf))
      .select("window_start", "event_type", "est")
    assert(streamed.count() > 0)
    // the sketch merge is exact (bytewise register max), so every
    // watermark-closed window's streamed ESTIMATE equals the batch
    // estimate bit-for-bit — only the un-closed tail may be withheld
    assert(streamed.except(batch).count() == 0)
    val cutoff = Tables.events(spark, sf).agg(max(col("ts"))).head().getTimestamp(0)
    val withheld = batch.except(streamed)
      .filter(col("window_start") < timestamp_millis(lit(cutoff.getTime - 26L * 3600 * 1000)))
    assert(withheld.count() == 0)
  }

  test("t10 streaming twin: stream-static as-of ≡ batch ≡ union-window formulation") {
    import graft.sources.Tables
    import graft.operators.Temporal
    val dir = java.nio.file.Files.createTempDirectory("ev_asof")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val ev = Tables.events(spark, sf)
    // versioned dimension: 4 feature versions per user spread across the
    // event-time range; tolerance of half a version gap makes staleness
    // bite (events late in a version's life get NULL, not stale state)
    val bounds = ev.agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val lo = bounds.getTimestamp(0).getTime
    val span = bounds.getTimestamp(1).getTime - lo
    val dim = ev.select(col("user_id")).distinct()
      .crossJoin(spark.range(4).toDF("k"))
      .select(col("user_id"),
        timestamp_millis(lit(lo) + col("k") * lit(span / 4)).as("vt"),
        (col("user_id") * 10 + col("k")).cast("double").as("feature"))
    val tol = math.max(span / 8 / 1000, 1L)
    EventStream.runAsofEnrichAvailableNow(spark, dir.toString, dim,
      "user_id", "vt", "feature", tol, "asof_out")
    val streamed = spark.table("asof_out")
    val batch = EventStream.asofEnrich(ev, dim, "user_id", "ts", "vt", "feature", tol)
    assert(streamed.count() == ev.count(), "left join must keep every event")
    assert(streamed.except(batch).count() == 0 && batch.except(streamed).count() == 0)
    // the interval rewrite IS t10: bit-identical to union + window fill
    val t10 = Temporal.asofJoinTolerance(ev, dim, "user_id", "ts", "vt", "feature", tol)
    assert(batch.except(t10).count() == 0 && t10.except(batch).count() == 0)
    assert(batch.filter(col("asof_value").isNotNull).count() > 0, "some events must match")
    assert(batch.filter(col("asof_value").isNull).count() > 0, "staleness must bite")
  }

  test("streaming windowed agg (availableNow) matches batch twin") {
    import graft.sources.Tables
    // stream sources need a directory; stage the single parquet file
    val dir = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    EventStream.runAvailableNow(spark, dir.toString, "ev_out")
    val streamed = spark.table("ev_out")
      .select("window_start", "event_type", "n", "value_cents")
    val batch = EventStream.windowedAgg(Tables.events(spark, sf))
      .select("window_start", "event_type", "n", "value_cents")
    assert(streamed.count() > 0)
    // append mode emits only watermark-closed windows: everything emitted
    // must match the batch twin, and only the un-closed tail (within
    // watermark 2h + window 1h of stream end) may be withheld.
    assert(streamed.except(batch).count() == 0)
    val cutoff = Tables.events(spark, sf).agg(max(col("ts"))).head().getTimestamp(0)
    val withheld = batch.except(streamed)
      .filter(col("window_start") < timestamp_millis(lit(cutoff.getTime - 3L * 3600 * 1000)))
    assert(withheld.count() == 0)
  }

  test("streaming dedup (availableNow) matches batch dropDuplicates") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_dedup")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    // duplicate the file: every event arrives twice
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events_dup.parquet"))
    EventStream.runDedupAvailableNow(spark, dir.toString, "ev_dedup_out")
    val streamed = spark.table("ev_dedup_out")
    val batch = EventStream.dedupBatch(Tables.events(spark, sf))
    // streaming dedup must emit each key once despite duplicated input
    assert(streamed.count() == batch.count())
    assert(streamed.groupBy("user_id", "event_type", "ts").count()
      .filter(col("count") > 1).count() == 0)
  }

  test("stream-stream correlation join matches batch twin") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_corr")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    EventStream.runCorrelateAvailableNow(spark, dir.toString, "ev_corr_out")
    val streamed = spark.table("ev_corr_out")
    val batch = EventStream.correlate(Tables.events(spark, sf))
    // watermark (2h) exceeds the join window (1h), so no legitimate pair
    // is evicted: stream must equal batch exactly
    assert(batch.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
  }

  test("stream-static enrichment join matches batch twin") {
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("ev_enrich")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val dim = Tables.customer(spark, sf).select(col("c_custkey"), col("c_name"))
    EventStream.runEnrichAvailableNow(spark, dir.toString, dim,
      "c_custkey", "c_name", "ev_enrich_out")
    val streamed = spark.table("ev_enrich_out")
    val batch = EventStream.enrich(Tables.events(spark, sf), dim,
      "c_custkey", "c_name")
    assert(streamed.count() == batch.count())
    assert(streamed.except(batch).count() == 0)
  }

  test("sessionize splits on gap and covers all events") {
    import graft.sources.Tables
    val ev = Tables.events(spark, sf)
    val sess = EventStream.sessionize(ev, 30)
    assert(sess.agg(sum(col("n_events"))).as[Long].head() == ev.count())
    assert(sess.filter(col("session_end") < col("session_start")).count() == 0)
  }
}
