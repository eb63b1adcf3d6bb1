package graft.streaming

import graft.SparkSpec
import graft.operators.OlapB
import org.apache.spark.sql.functions.{col, sha2}

class StreamOpsSpec extends SparkSpec with WaveStaging {

  test("streaming conf is isolated: caller session's shuffle partitions untouched") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    StreamOps.streamEvents(spark, sfDir).collect()
    assert(spark.conf.get(key) === before,
      "a streaming drain must not mutate the shared session conf")
    assert(StreamOps.streamingSession(spark).conf.get(key) === "8")
    // the child is cached per root session, not re-created per query
    assert(StreamOps.streamingSession(spark) eq StreamOps.streamingSession(spark))
    // the transformWithState child's RocksDB provider stays on that child
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocks = Map(provider ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val tws = StreamOps.childSession(spark, rocks)
    assert(!(tws eq StreamOps.streamingSession(spark)))
    assert(tws eq StreamOps.childSession(spark, rocks))
    assert(tws.conf.get(provider) === rocks(provider))
    assert(tws.conf.get(key) === "8")
    assert(StreamOps.streamingSession(spark).conf.get(provider) ===
      spark.conf.get(provider))
  }

  test("streamed windowed agg equals the batch windowed agg") {
    val streamed = StreamOps.streamEvents(spark, sfDir)
      .collect().map(_.toString).sorted
    val batch = OlapB.eventsWindowed(spark, sfDir)
      .withColumnRenamed("n", "n") // same shape apart from value_sum
      .collect().map(_.toString).sorted
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamJoin(spark, sfDir)
      .collect().map(_.toString).sorted
    val e = graft.sources.Tables(spark, sfDir).events
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_event_id"), col("ts").as("v_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event_id"),
        col("ts").as("p_ts"))
    val batch = v.join(p, col("user_id") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("interval 6 hours"))
      .select(col("user_id"), col("view_event_id"), col("purchase_event_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("streamed dedup state equals the batch exact-dedup groups") {
    val streamed = StreamOps.streamDedup(spark, sfDir)
      .collect().map(_.toString).sorted
    val batch = graft.operators.TextOps.dedupExact(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
    // the seeded duplicates actually exercised the state-merge path
    assert(StreamOps.streamDedup(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("n_copies") > 1).count() > 0)
  }

  test("streamed quality gate equals the batch per-reason aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.streamQualityGate(spark, sfDir)
      .collect().map(_.toString).sorted
    val batch = graft.operators.Pipeline.qualityFilterChain(spark, sfDir)
      .groupBy(col("reject_reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
    // the gate separates: both accepted and rejected documents exist
    val reasons = StreamOps.streamQualityGate(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    assert(reasons.contains("ok") && reasons.size > 1)
  }

  test("streamed funnel and MV equal their batch cores (one core, two modes)") {
    val sf = StreamOps.streamFunnel(spark, sfDir).collect().map(_.toString).sorted
    val bf = graft.operators.OlapC.funnel(spark, sfDir).collect().map(_.toString).sorted
    assert(sf.nonEmpty && sf.toSeq === bf.toSeq)
    val sm = StreamOps.streamMv(spark, sfDir).collect().map(_.toString).sorted
    val bm = graft.operators.OlapC.mvIncremental(spark, sfDir).collect().map(_.toString).sorted
    assert(sm.nonEmpty && sm.toSeq === bm.toSeq)
  }

  test("streamed upsert compaction equals the batch compaction") {
    val s = StreamOps.streamUpsert(spark, sfDir).collect().map(_.toString).sorted
    val b = graft.operators.OlapC.upsertLatest(spark, sfDir).collect()
      .map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("stream_dedup_ttl: kept set equals the distinct-content set on " +
      "the co-windowed gate feed (B86)") {
    val s = StreamOps.streamDedupTtl(spark, sfDir).collect()
      .map(_.getString(0))
    val b = graft.sources.Tables(spark, sfDir).documents
      .select(sha2(col("text"), 256)).distinct().collect()
      .map(_.getString(0)).sorted
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("stream_dedup_ttl: the TTL is load-bearing — a duplicate arriving " +
      "past the watermark delay finds its key EVICTED and survives (B86)") {
    import spark.implicits._
    val ss = StreamOps.streamingSession(spark)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ttl_mb")
    def wave(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = writeWave(srcDir, df, name, mtime)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(plusMin: Int) = new java.sql.Timestamp(t0.getTime + plusMin * 60000L)
    // wave 0: X twice within the delay (second copy dropped) + W at
    // t0+3h, which advances the post-batch watermark to t0+2h — past
    // X's (arrival t0) + 1h TTL
    wave(Seq(("X", ts(0)), ("X", ts(1)), ("W", ts(180)))
      .toDF("content", "arrival"), "w0.parquet", 1700000000000L)
    // wave 1: state CLEANUP runs at end-of-batch with the watermark
    // computed after wave 0 (t0+2h) — this batch is what evicts X
    wave(Seq(("Y", ts(181))).toDF("content", "arrival"),
      "w1.parquet", 1700000060000L)
    // wave 2: X again at t0+2.5h — above the watermark (not late data),
    // but its dedup key is gone: the "duplicate" SURVIVES
    wave(Seq(("X", ts(150))).toDF("content", "arrival"),
      "w2.parquet", 1700000120000L)
    val feed = ss.readStream
      .schema("content STRING, arrival TIMESTAMP")
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .withWatermark("arrival", "1 hour")
      .dropDuplicatesWithinWatermark("content")
    val name = "graft_ttl_replay"
    val sink = java.nio.file.Files.createTempDirectory("graft_ttl_sink")
    val q = feed.writeStream.queryName(name)
      .format("parquet").option("path", sink.toString)
      .option("checkpointLocation", s"$sink-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = ss.read.parquet(sink.toString).collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    // X kept in wave 0 (in-window copy dropped), kept AGAIN in wave 2
    assert(got === Map("X" -> 2, "W" -> 1, "Y" -> 1), s"got $got")
    graft.sources.IndexScratch.deleteRec(srcDir.toFile)
    graft.sources.IndexScratch.deleteRec(sink.toFile)
  }

  test("streamed RFM equals the batch segmentation (B88 == B80: the " +
      "per-user triple is a mergeable monoid; anchor derived at drain)") {
    val s = StreamOps.streamRfm(spark, sfDir).collect().map(_.toString)
    val b = graft.operators.OlapD.rfmSegments(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed OLS trend equals the batch sufficient-stats regression " +
      "(B84 == B82: the rollup is a mergeable monoid)") {
    val s = StreamOps.streamLinregTrend(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.OlapD.linregTrend(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed skyline equals the batch frontier (B85 == B81: " +
      "per-price max state re-swept per batch)") {
    val s = StreamOps.streamSkyline(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.OlapD.skyline2d(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed CDC-with-deletes compaction equals the batch compaction " +
      "(tombstones survive in state, filtered at the drain)") {
    val rows = StreamOps.streamCdcCompact(spark, sfDir).collect()
    val s = rows.map(_.toString).sorted
    val b = graft.operators.OlapC.cdcCompact(spark, sfDir).collect()
      .map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq === b.toSeq)
    // deletes genuinely delete: no surviving key is on the delete arm,
    // and update-only keys carry the v2 record
    val keys = rows
      .map(r => r.getLong(r.fieldIndex("o_orderkey")) ->
        r.getString(r.fieldIndex("op"))).toMap
    assert(keys.keys.forall(_ % graft.operators.OlapC.CdcDeleteMod != 0))
    assert(keys.exists { case (k, op) =>
      k % graft.operators.OlapC.UpsertMod == 0 && op == "U" })
  }

  test("streamed attribution equals the batch window operator") {
    val s = StatefulAttribution.streamAttribution(spark, sfDir).collect()
      .map(_.toString).sorted
    val b = graft.operators.OlapD.attribution(spark, sfDir).collect()
      .map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("attribution state machine: (ts, id) order decides strictly-before") {
    import org.apache.spark.sql.streaming.TestGroupState
    def run(evs: Seq[StatefulAttribution.Ev]) = {
      val st = TestGroupState.create[StatefulAttribution.ClickState](
        org.apache.spark.api.java.Optional.empty(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
        0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
      StatefulAttribution.updateUser(1L, evs.iterator, st).toSeq
    }
    def ev(id: Long, ts: Long, tpe: String) =
      StatefulAttribution.Ev(1L, id, ts, tpe, 1.0, new java.sql.Timestamp(ts / 1000))
    // click sorts before same-ts purchase (lower id) → credited
    val a = run(Seq(ev(2, 1000000L, "purchase"), ev(1, 1000000L, "click")))
    assert(a.map(o => (o.event_id, o.click_event_id)) === Seq((2L, Some(1L))))
    // click sorts after same-ts purchase (higher id) → organic
    val b = run(Seq(ev(1, 1000000L, "purchase"), ev(2, 1000000L, "click")))
    assert(b.map(o => (o.event_id, o.click_event_id)) === Seq((1L, None)))
    // click outside the lookback window → organic
    val far = 1000000L + graft.operators.OlapD.AttrWindowUs + 1
    val c = run(Seq(ev(1, 1000000L, "click"), ev(2, far, "purchase")))
    assert(c.map(o => (o.event_id, o.click_event_id)) === Seq((2L, None)))
  }

  test("streamed transition matrix equals the batch lag-window operator") {
    val s = StatefulTransitions.streamTransitions(spark, sfDir).collect()
      .map(_.toString).sorted
    val b = graft.operators.OlapC.eventTransitions(spark, sfDir).collect()
      .map(_.toString).sorted
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("transition state machine: START chains, (ts, id) order, one-record state") {
    import org.apache.spark.sql.streaming.TestGroupState
    def mkState(init: Option[StatefulTransitions.LastEv]) =
      TestGroupState.create[StatefulTransitions.LastEv](
        init.map(org.apache.spark.api.java.Optional.of(_))
          .getOrElse(org.apache.spark.api.java.Optional.empty()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout(),
        0L, org.apache.spark.api.java.Optional.of(0L), hasTimedOut = false)
    def ev(id: Long, ts: Long, tpe: String) =
      StatefulTransitions.Ev(1L, id, ts, tpe, new java.sql.Timestamp(ts / 1000))
    // fresh user: first edge comes from START; batch order is (ts, id)
    val st = mkState(None)
    val out = StatefulTransitions.updateUser(1L,
      Seq(ev(2, 2000000L, "view"), ev(1, 1000000L, "click")).iterator, st).toSeq
    assert(out.map(e => (e.from_type, e.to_type)) ===
      Seq(("START", "click"), ("click", "view")))
    // state carries exactly the last event across batches
    assert(st.get === StatefulTransitions.LastEv(2000000L, 2L, "view"))
    val st2 = mkState(Some(StatefulTransitions.LastEv(2000000L, 2L, "view")))
    val out2 = StatefulTransitions.updateUser(1L,
      Seq(ev(3, 3000000L, "purchase")).iterator, st2).toSeq
    assert(out2.map(e => (e.from_type, e.to_type)) === Seq(("view", "purchase")))
  }

  test("streamed trending board equals the batch windowed top-k") {
    val batch = graft.operators.OlapB.windowTopk(spark, sfDir).collect()
    val s = StreamOps.streamTopk(spark, sfDir).collect().map(_.toString)
    assert(s.nonEmpty && s.toSeq === batch.map(_.toString).toSeq)
    // per day: ranks dense 1..k, counts non-increasing
    batch.groupBy(_.getDate(0)).foreach { case (_, rs) =>
        val sorted = rs.sortBy(_.getInt(1))
        assert(sorted.map(_.getInt(1)).toSeq ===
          (1 to sorted.length) && sorted.length <= graft.operators.OlapB.WindowTopkK)
        val ns = sorted.map(_.getLong(3)).toSeq
        assert(ns === ns.sorted.reverse)
      }
  }

  test("streamed heavy-hitters board equals the exact-counter board") {
    // capacity ≥ distinct keys per day ⇒ Misra–Gries counts are exact ⇒
    // the sketched-state board equals both the exact-state stream and the
    // batch operator
    val hh = StreamOps.streamHhTopk(spark, sfDir).collect().map(_.toString)
    val b = graft.operators.OlapB.windowTopk(spark, sfDir).collect()
      .map(_.toString)
    assert(hh.nonEmpty && hh.toSeq === b.toSeq)
  }

  test("streamed KN scorer equals the batch query (map-side, zero state)") {
    val s = StreamOps.streamKnScore(spark, sfDir).collect().map(_.toString)
    val b = graft.operators.CorpusOps.knLogprob(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed perplexity-band gate equals the batch CCNet bands " +
      "(B75 == C95, frozen thresholds)") {
    val s = StreamOps.streamPplBand(spark, sfDir).collect().map(_.toString)
    val b = graft.operators.CorpusOps.pplBandSelect(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed perplexity-band gate on the broadcast-join path equals " +
      "the batch bands (production-K spelling)") {
    val s = StreamOps.streamPplBandImpl(spark, sfDir, 0L).collect()
      .map(_.toString)
    val b = graft.operators.CorpusOps.pplBandSelect(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed substring scrub equals the batch scrub " +
      "(B78 == C96, frozen dup-window census)") {
    val s = StreamOps.streamSubstringScrub(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.TextOps.substringScrub(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
    // the drain actually scrubbed something: the seeded exact copies
    // guarantee a nonzero removal mass
    val removed = StreamOps.streamSubstringScrub(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_removed")).head().getLong(0)
    assert(removed > 0)
  }

  test("streamed KN scorer on the broadcast-join path equals the batch query") {
    // literalMax = 0 forces the production-K spelling (stream-static
    // broadcast joins + per-doc rollup) on the gate corpus
    val s = StreamOps.streamKnScoreImpl(spark, sfDir, 0L).collect()
      .map(_.toString)
    val b = graft.operators.CorpusOps.knLogprob(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed NB scorer equals the batch classifier (B63 == C78)") {
    val s = StreamOps.streamNbScore(spark, sfDir).collect().map(_.toString)
    val b = graft.operators.Pipeline.qualityClassifier(spark, sfDir)
      .collect().map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed unigram encoder equals the batch encode (B64 == C80)") {
    val s = StreamOps.streamUnigramEncode(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.CorpusOps.unigramEncode(spark, sfDir)
      .collect().map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed ensemble verdict equals the batch vote (B66 == C87)") {
    val s = StreamOps.streamQualityEnsemble(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.Pipeline.qualityEnsemble(spark, sfDir)
      .collect().map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed quality-drift board equals the batch C59 query") {
    val s = StreamOps.streamQualityDrift(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.Pipeline.qualityDrift(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
    // the day span is the full drift window: per-day boards, not one blob
    assert(s.length === graft.operators.Pipeline.DriftDays)
  }

  test("streamed quantile board equals the batch sketch rollup (B57)") {
    val s = StreamOps.streamQuantileSketch(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.OlapC.quantileSketch(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
    // the state the stream held is the daily board, not the raw events:
    // counter rows live in the bounded (day, bucket) domain, so DOUBLING
    // the event stream leaves the board size unchanged — state grows with
    // the domain, never the event count
    val ev = graft.sources.Tables(spark, sfDir).events
    val daily = graft.operators.OlapC.quantileDailyAggOn(ev).count()
    val doubled = graft.operators.OlapC.quantileDailyAggOn(
      ev.unionAll(ev)).count()
    assert(daily === doubled, "sketch state must not grow with event count")
  }

  test("streamed FFD admission drain equals the batch packer (B60 == C71)") {
    val s = StreamOps.streamPackBestfit(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.CorpusOps.packBestfit(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("FFD admission state is O(bins) and carries across batches") {
    import org.apache.spark.sql.streaming.TestGroupState
    import graft.streaming.StreamOps.{PackDoc, PackOut, PackState}
    val budget = graft.operators.CorpusOps.PackBudget
    def doc(id: Long, len: Long) = PackDoc(id, len, "0")
    val st = TestGroupState.create[PackState](
      org.apache.spark.api.java.Optional.empty(),
      org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      0L, org.apache.spark.api.java.Optional.empty(), hasTimedOut = false)
    // wave 1: two docs fill one bin exactly (budget 256: 200 + 56)
    val w1 = StreamOps.admitShard("0",
      Iterator(doc(1, 200), doc(2, 56)), st).toSeq
    assert(w1 === Seq(PackOut(1, "0", 200, 1, 0), PackOut(2, "0", 56, 1, 200)))
    assert(st.get.loads.toSeq === Seq(256L))
    // wave 2: the sealed bin is full — a new arrival opens bin 2; state
    // remains the LOAD VECTOR (one long per bin), not the documents
    val w2 = StreamOps.admitShard("0", Iterator(doc(3, 10)), st).toSeq
    assert(w2 === Seq(PackOut(3, "0", 10, 2, 0)))
    assert(st.get.loads.toSeq === Seq(256L, 10L))
    // wave 3: FFD order inside the batch (length desc, id) and first-fit
    // against CARRIED loads: 250 cannot join bin 2 (10+250>256), opens
    // bin 3; then 100 first-fits into bin 2
    val w3 = StreamOps.admitShard("0",
      Iterator(doc(4, 100), doc(5, 250)), st).toSeq
    assert(w3 === Seq(PackOut(5, "0", 250, 3, 0), PackOut(4, "0", 100, 2, 10)))
    assert(st.get.loads.toSeq === Seq(256L, 110L, 250L))
  }

  test("streamed pHash probe equals the one-shot batch probe (B59 == C72)") {
    val s = StreamOps.streamPhashProbe(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.Multimodal.multimodalIndexProbe(spark, sfDir)
      .collect().map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed index probe equals the one-shot batch probe (B53 == C54)") {
    val s = StreamOps.streamIndexProbe(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.Sketch.dedupIndexProbe(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed entropy histogram equals the batch C63 rollup (B54 == C63)") {
    import org.apache.spark.sql.functions._
    val s = StreamOps.streamEntropyGate(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val b = graft.operators.TextOps.textEntropy(spark, sfDir)
      .groupBy(floor(col("entropy_nats") * 10).cast("int").as("h_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("h_bucket")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(s.length > 1 && s.toSeq === b.toSeq)
  }

  test("streamed ingest over the evolving table equals the batch merged " +
      "read (B74 == D11)") {
    val s = StreamOps.streamSchemaEvolution(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.sources.Sinks.schemaEvolution(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed cluster assignment equals the batch k-means (B70 == C28)") {
    val s = StreamOps.streamClusterAssign(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.VectorOps.kmeansClusters(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed weighted reservoir equals the batch sample (B68 == C40)") {
    val s = StreamOps.streamWeightedSample(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.CorpusOps.weightedSample(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed line-dedup census equals the batch C92 query (B67 == C92)") {
    val s = StreamOps.streamLineDedup(spark, sfDir).collect().map(_.toString)
    val b = graft.operators.CorpusOps.lineDedup(spark, sfDir).collect()
      .map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed containment gate equals the batch C62 probe (B55 == C62)") {
    val s = StreamOps.streamDecontaminate(spark, sfDir).collect()
      .map(_.toString)
    val b = graft.operators.CorpusOps.decontaminateContainment(spark, sfDir)
      .collect().map(_.toString)
    assert(s.nonEmpty && s.toSeq === b.toSeq)
  }

  test("streamed pc1 histogram equals the batch C64 rollup (B56 == C64)") {
    import org.apache.spark.sql.functions._
    val s = StreamOps.streamEmbedPca(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val b = graft.operators.VectorOps.embedPca(spark, sfDir)
      .groupBy(floor(col("pc1") * 10).cast("int").as("p_bucket"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("p_bucket")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(s.length > 1 && s.toSeq === b.toSeq)
  }

  test("stream query restarts cleanly (idempotent memory sink)") {
    val a = StreamOps.streamEvents(spark, sfDir).count()
    val b = StreamOps.streamEvents(spark, sfDir).count()
    assert(a === b)
  }

  test("B62 recurring-ingest loop: a later batch near-dups an EARLIER " +
      "batch's admitted content, not just build-time history") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = graft.sources.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    // history and the ingest feed are DISJOINT doc populations, so any
    // batch-2 hit can only come from batch-1's admission
    val history = docs.filter(col("doc_id") % 3 === 1)
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    val b2 = b1.select((col("doc_id") + 900000000L).as("doc_id"),
      concat(col("text"), lit(" probed")).as("text"))
    val idx = new java.io.File(java.nio.file.Files
      .createTempDirectory("graft_adm_loop").toFile, "idx").getPath
    Dedup.dedupIndexBuild(history, "doc_id", "text", idx)
    val src = java.nio.file.Files.createTempDirectory("graft_loop_src")
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val stage = new java.io.File(src.toFile, s"_stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      val dest = new java.io.File(src.toFile, name)
      java.nio.file.Files.move(part.toPath, dest.toPath)
      assert(dest.setLastModified(mtime)) // file-source batch order
    }
    val t0 = 1700000000000L
    writeFile(b1, "b1.parquet", t0)
    writeFile(b2, "b2.parquet", t0 + 60000L)
    val hits = StreamOps.streamIndexAdmitLoop(spark, src.toString,
        "b*.parquet", idx).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // batch 1 probes the PRE-admission index: any hit it surfaces can
    // only be a natural near-dup against the %3==1 history population —
    // never against b1 itself (not yet admitted when probed) or b2
    assert(hits.filter(_._1 < 900000000L).forall(_._2 % 3 == 1),
      "a batch-1 doc hit non-history content — probe ran post-admission")
    // batch 2's near-dups surface THROUGH batch-1's admission: every b2
    // doc is a one-token variant of its b1 source, so its admitted source
    // MUST appear among its hits — the property B53 (probe-only) cannot
    // provide
    val hitPairs = hits.toSet
    val missing = b1.select(col("doc_id")).collect().map(_.getLong(0))
      .filterNot(s => hitPairs.contains((s + 900000000L, s)))
    assert(missing.isEmpty,
      s"${missing.length} batch-2 docs missed their admitted batch-1 source")
  }

  test("B65 admit loop with in-loop vacuum: detection unchanged across " +
      "the swap; file census bounded by the spread set") {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val docs = graft.sources.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val history = docs.filter(col("doc_id") % 3 === 1)
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    val b2 = b1.select((col("doc_id") + 900000000L).as("doc_id"),
      concat(col("text"), lit(" probed")).as("text"))
    val idx = new java.io.File(java.nio.file.Files
      .createTempDirectory("graft_vacloop").toFile, "idx").getPath
    Dedup.dedupIndexBuild(history, "doc_id", "text", idx)
    val builtFiles = Dedup.parquetFileCount(spark, s"$idx/bands")
    val src = java.nio.file.Files.createTempDirectory("graft_vacloop_src")
    def writeFile(df: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val stage = new java.io.File(src.toFile, s"_stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage.getPath)
      val part = stage.listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(src.toFile, name).toPath)
      assert(new java.io.File(src.toFile, name).setLastModified(mtime))
    }
    val t0 = 1700000000000L
    writeFile(b1, "b1.parquet", t0)
    writeFile(b2, "b2.parquet", t0 + 60000L)
    // vacuum after EVERY batch: batch 2 probes across a post-batch-1 swap
    val hits = StreamOps.streamIndexAdmitLoop(spark, src.toString,
        "b*.parquet", idx, vacuumEvery = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the B62 cross-batch property must SURVIVE the vacuum between the
    // batches: every b2 doc surfaces its admitted b1 source
    val hitPairs = hits.toSet
    val missing = b1.select(col("doc_id")).collect().map(_.getLong(0))
      .filterNot(s => hitPairs.contains((s + 900000000L, s)))
    assert(missing.isEmpty,
      s"${missing.length} batch-2 docs lost their source across the vacuum")
    // and the census claim: after the final in-loop vacuum the index is
    // ONE spread set again, not build + one file set per admitted batch
    assert(Dedup.parquetFileCount(spark, s"$idx/bands") <= builtFiles,
      "in-loop vacuum did not bound the file census")
  }

  test("B61 admission chain: drain == composed batch verdicts; every " +
      "class routes to its gate") {
    import org.apache.spark.sql.functions._
    import graft.operators.{CorpusOps, Dedup, Pipeline}
    val hist = graft.sources.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val path = graft.sources.IndexScratch.path("dedupidx", sfDir)
    graft.sources.IndexScratch.ensure(path)(p =>
      Dedup.dedupIndexBuild(hist, "doc_id", "text", p))
    val bloom = CorpusOps.historyBloomOf(hist, "text")
    val bsh = CorpusOps.containmentBenchShingles(
      hist.filter(col("doc_id") % CorpusOps.BenchmarkMod === 0),
      "doc_id", "text", 3)
    val histWinnow = Pipeline.admissionHistWinnow(hist)
    val batch = Pipeline
      .admissionVerdictsOn(spark, Pipeline.admissionBatchOn(hist),
        hist, bloom, path, bsh, histWinnow)
      .orderBy(col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val streamed = StreamOps.streamAdmissionChain(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(batch.nonEmpty && streamed.toSeq === batch.toSeq)
    val byClass = batch.groupBy(_._1 / 100000000L)
    // exact copies: caught by the bloom gate unless quality rejects first
    byClass(2L).foreach { case (id, s) =>
      assert(s == "exact_dup" || s.startsWith("quality_"), s"$id -> $s") }
    assert(byClass(2L).exists(_._2 == "exact_dup"))
    // suffixed variants: the band probe catches them
    assert(byClass(3L).exists(_._2 == "near_dup"))
    // word-order reversals: every word-level quality stat is unchanged and
    // no 3-shingle survives — NO whole-doc dedup gate may fire, and some
    // are accepted. The winnow gate MAY fire (shared long-word-interior
    // 8-grams survive reversal — that is genuine shared content, exactly
    // what a fingerprint gate flags).
    byClass(4L).foreach { case (id, s) =>
      assert(s == "accepted" || s == "winnow_copy" ||
        s.startsWith("quality_"), s"$id -> $s") }
    assert(byClass(4L).exists(_._2 == "accepted"))
    // padded benchmark embeddings: containment catches what Jaccard misses
    // (never accepted, never an exact dup)
    byClass(5L).foreach { case (id, s) =>
      assert(s != "accepted" && s != "exact_dup", s"$id -> $s") }
    assert(byClass(5L).exists(_._2 == "contaminated"))
    // 200-char excerpts + fresh continuation: whole-doc Jaccard sits far
    // below every earlier gate, but the shared opening MUST put them on
    // the winnow gate (the r15 fifth stage's reason to exist)
    byClass(6L).foreach { case (id, s) =>
      assert(s == "winnow_copy" || s.startsWith("quality_"), s"$id -> $s") }
    assert(byClass(6L).exists(_._2 == "winnow_copy"))
  }

  test("B21 multi-batch: dedup state merges across 3 micro-batches to " +
      "the batch aggregation (keeper = global min, counts sum)") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    // seeded cross-WAVE duplicates: wave w carries doc x AND wave (w+1)%3
    // carries a copy of x under a shifted id for every 7th doc — so the
    // state-merge path is exercised BETWEEN batches, not only within one
    val src = java.nio.file.Files.createTempDirectory("graft_dedup_mb")
    val t0 = 1700000000000L
    for (w <- 0 to 2) {
      val own = docs.filter(col("doc_id") % 3 === w)
      val dupOfPrev = docs.filter(col("doc_id") % 3 === ((w + 2) % 3) &&
          col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000000L).as("doc_id"), col("text"))
      writeWave(src, own.unionByName(dupOfPrev), s"w$w.parquet",
        t0 + w * 60000L)
    }
    val ss = StreamOps.streamingSession(spark)
    val schema = ss.read.option("pathGlobFilter", "w*.parquet")
      .parquet(src.toString).schema
    val d = ss.readStream.schema(schema)
      .option("pathGlobFilter", "w*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
      .select(col("doc_id"), col("text"))
    val agg = d.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
    val streamed = StreamOps.drainViaParquetSink(ss, agg,
        "graft_dedup_mb_q", complete = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // batch truth over the SAME union
    val union = (0 to 2).map(w => spark.read.parquet(s"$src/w$w.parquet"))
      .reduce(_ unionByName _)
    val batch = union.groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(streamed.nonEmpty && streamed.toSeq === batch.toSeq)
    // the cross-batch merge genuinely fired: seeded duplicate pairs span
    // different waves, and each resolves to the ORIGINAL (smaller) id
    val dups = streamed.filter(_._2 > 1)
    assert(dups.nonEmpty)
    dups.foreach { case (h, _, keeper) =>
      assert(keeper < 100000000L, s"hash $h kept the shifted copy") }
    graft.sources.IndexScratch.deleteRec(src.toFile)
  }

  test("B60 multi-batch admission: sealed bins never reopen and every " +
      "placement equals a sequential first-fit replay over 3 micro-batches") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val docs = graft.sources.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val src = java.nio.file.Files.createTempDirectory("graft_pack_mb")
    val t0 = 1700000000000L
    for (w <- 0 to 2)
      writeWave(src, docs.filter(col("doc_id") % 3 === w),
        s"w$w.parquet", t0 + w * 60000L)
    val ss = StreamOps.streamingSession(spark)
    import ss.implicits._
    val schema = ss.read.option("pathGlobFilter", "w*.parquet")
      .parquet(src.toString).schema
    val d = ss.readStream.schema(schema)
      .option("pathGlobFilter", "w*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
    // the CANNED key's own (doc_id, n_tokens, shard) derivation + the
    // same admitShard state function — only the trigger shape differs
    val keyed = d.select(col("doc_id").cast("long").as("doc_id"),
        size(graft.operators.TextOps.tokens(col("text"))).cast("bigint")
          .as("n_tokens"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"))
      .as[StreamOps.PackDoc]
    val placed = keyed.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(StreamOps.admitShard)
      .toDF()
    val out = StreamOps.drainViaParquetSink(ss, placed, "graft_pack_mb_q",
        xform = (mb, bid) => mb.withColumn("src_batch", lit(bid)))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5)))
    val batches = out.map(_._6).distinct.sorted.toSeq
    assert(batches.size >= 3, s"replay collapsed to ${batches.size} batches")
    batches.foreach(b => assert(out.exists(_._6 == b)))
    // every doc admitted exactly once, no bin over budget
    assert(out.map(_._1).distinct.length === out.length)
    val budget = graft.operators.CorpusOps.PackBudget
    out.groupBy(r => (r._2, r._4)).foreach { case ((sh, bin), rs) =>
      assert(rs.map(_._3).sum <= budget, s"shard $sh bin $bin over budget") }
    // the strong pin: the distributed multi-batch placement IS a
    // sequential first-fit admission — per shard, replay the waves in
    // batch order (FFD order inside each wave) through the SAME
    // ffdPlace kernel and demand identical (bin, offset) for every doc;
    // carried loads only ever grow, so sealed bins can never reopen
    for ((shard, rows) <- out.groupBy(_._2)) {
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (b <- batches) {
        val wave = rows.filter(_._6 == b).sortBy(r => (-r._3, r._1))
        for (r <- wave) {
          val before = loads.toList
          val (bin, off) = graft.functions.TextKernels.ffdPlace(loads,
            r._3, budget)
          assert((bin, off) === ((r._4, r._5)),
            s"doc ${r._1} shard $shard batch $b: stream placed " +
              s"(${r._4}, ${r._5}), sequential replay says ($bin, $off)")
          before.zipWithIndex.foreach { case (l, i) =>
            assert(loads(i) >= l, s"shard $shard bin ${i + 1} load shrank") }
        }
      }
    }
    graft.sources.IndexScratch.deleteRec(src.toFile)
  }

  test("B61 multi-batch: verdicts are batching-invariant and per-stage " +
      "counters sum across 3 micro-batches to the one-shot counters") {
    import org.apache.spark.sql.functions._
    import graft.operators.{CorpusOps, Dedup, Pipeline}
    val hist = graft.sources.Tables(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val path = graft.sources.IndexScratch.path("dedupidx", sfDir)
    graft.sources.IndexScratch.ensure(path)(p =>
      Dedup.dedupIndexBuild(hist, "doc_id", "text", p))
    val bloom = CorpusOps.historyBloomOf(hist, "text")
    val bsh = CorpusOps.containmentBenchShingles(
      hist.filter(col("doc_id") % CorpusOps.BenchmarkMod === 0),
      "doc_id", "text", 3)
    val histWinnow = Pipeline.admissionHistWinnow(hist)
    val src = java.nio.file.Files.createTempDirectory("graft_adm_mb")
    val t0 = 1700000000000L
    for (w <- 0 to 2)
      writeWave(src, hist.filter(col("doc_id") % 3 === w),
        s"w$w.parquet", t0 + w * 60000L)
    val ss = StreamOps.streamingSession(spark)
    val schema = ss.read.option("pathGlobFilter", "w*.parquet")
      .parquet(src.toString).schema
    val d = ss.readStream.schema(schema)
      .option("pathGlobFilter", "w*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(src.toString)
      .select(col("doc_id"), col("text"))
    val streamed = StreamOps.drainViaParquetSink(ss,
        Pipeline.admissionBatchOn(d), "graft_adm_mb_q",
        xform = (mb, bid) => Pipeline.admissionVerdictsOn(mb.sparkSession,
          mb, hist, bloom, path, bsh, histWinnow)
          .withColumn("src_batch", lit(bid)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batches = streamed.map(_._3).distinct.sorted.toSeq
    assert(batches.size >= 3, s"replay collapsed to ${batches.size} batches")
    // every synthesized arrival verdicted exactly once across the waves
    assert(streamed.map(_._1).distinct.length === streamed.length)
    // batching invariance: the union of per-batch verdicts equals the
    // one-shot composed verdicts over the same population — a doc's
    // verdict depends only on itself vs the FROZEN static sides, never
    // on which micro-batch carried it
    val oneShot = Pipeline
      .admissionVerdictsOn(spark, Pipeline.admissionBatchOn(hist),
        hist, bloom, path, bsh, histWinnow)
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(streamed.map(t => t._1 -> t._2).sortBy(_._1).toSeq ===
      oneShot.toSeq)
    // the monitoring-feed invariant: per-stage counters summed across
    // batches equal the one-shot per-stage counters (what a curation
    // dashboard accumulates batch by batch)
    val perBatchSummed = streamed.groupBy(t => (t._3, t._2)).toSeq
      .map { case ((_, stage), rs) => stage -> rs.size.toLong }
      .groupBy(_._1).map { case (stage, m) => stage -> m.map(_._2).sum }
    val global = oneShot.groupBy(_._2)
      .map { case (stage, rs) => stage -> rs.size.toLong }
    assert(perBatchSummed === global)
    graft.sources.IndexScratch.deleteRec(src.toFile)
  }
}
