package graft.examples

import java.sql.Timestamp
import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import graft.connectors.KafkaOps
import graft.operators.{Ops, StatefulOps}
import graft.windowing._

/** Ports of the reference's flagship examples onto the graft API —
  * what a reference user's code becomes after switching engines.
  */
object Examples {

  // ------------------------------------------------------------------
  // The whole model-based quality gate as ONE parquet scan — the
  // 100 TB curation-pass shape: Gopher rules (fused rule projection),
  // LM perplexity (fused LmScoreExpr over broadcast count tables), and
  // the NB classifier (fused NbPredictExpr) compose into a single
  // filter predicate with ZERO exchanges, joins, or state — the plan
  // is scan → whole-stage-codegen'd filter, so it rides predicate
  // pipelining, survives streaming unchanged, and touches each
  // document's text exactly three scans inside one codegen span.
  // Spec-pinned: output ≡ the intersection of the three stand-alone
  // filters; plan has no Exchange and no Join (ExamplesSpec).
  // ------------------------------------------------------------------
  def qualityGateFused(docs: DataFrame, text: Column,
      stopwords: Seq[String],
      nb: graft.functions.Classify.NbBroadcastModel, keepLabel: String,
      lm: graft.functions.LmFused.LmBroadcastModel, maxPpl: Double,
      gopherT: graft.functions.Text.GopherThresholds =
        graft.functions.Text.GopherThresholds()): DataFrame = {
    val rules = graft.functions.Text.gopherRules(text, stopwords, gopherT)
    val cls = graft.functions.Classify.nbPredictFusedCol(text, nb)
    val ppl = graft.functions.LmFused.lmScoreFusedCol(text, lm)
    docs.filter(
      rules.getField("keep") &&
      cls.getField("label_pred") === keepLabel &&
      (ppl.getField("n_scored") === 0L || ppl.getField("ppl") <= maxPpl))
  }

  // ------------------------------------------------------------------
  // Snapshot admission — the governance checklist a corpus pipeline
  // runs before a new drop joins the training set, composing the
  // quality family end-to-end: constraint validation (the refuse
  // switch), per-stratum dataset cards, the order-invariant content
  // fingerprint (identity for provenance logs), and profile drift
  // against the previous snapshot's profile. Everything is
  // report-shaped — the caller decides what blocks admission; only
  // `requireValid` throws, and only when asked.
  // ------------------------------------------------------------------

  final case class Admission(validation: DataFrame, cards: DataFrame,
      fingerprint: DataFrame, drift: DataFrame)

  def snapshotAdmission(drop: DataFrame,
      checks: Seq[graft.functions.Validate.Check],
      stratumCol: Column, profileCols: Seq[String],
      fingerprintCols: Seq[String],
      prevProfile: Option[DataFrame] = None,
      failFast: Boolean = false): Admission = {
    import graft.functions.{Profile, Validate}
    if (failFast) Validate.requireValid(drop, checks)
    val prof = Profile.profile(drop, profileCols)
    Admission(
      Validate.report(drop, checks),
      Profile.profileBy(drop, stratumCol, profileCols),
      Profile.fingerprint(drop, fingerprintCols),
      prevProfile.map(p => Profile.drift(p, prof))
        .getOrElse(Profile.drift(prof, prof)))
  }

  // ------------------------------------------------------------------
  // search_session (reference examples/search_session.py): sessionize a
  // clickstream per user with gap-based windows, then compute per-
  // session click-through rate (searches with >=1 click / searches).
  // ------------------------------------------------------------------

  final case class ClickEvent(user: Long, ts: Timestamp, kind: String, payload: String)

  /** Sessionize and score CTR per (user, session). */
  def searchSessionCtr(events: Dataset[ClickEvent], gap: String): DataFrame = {
    val clock = EventClock("ts")
    Windowing.aggWindow(events.toDF(), clock, SessionWindower(gap), Seq(col("user")),
      Seq(
        sum(when(col("kind") === "search", 1).otherwise(0)).as("searches"),
        sum(when(col("kind") === "click", 1).otherwise(0)).as("clicks")))
      .select(col("user"), col("window.start").as("session_start"),
        col("searches"), col("clicks"),
        when(col("searches") > 0, col("clicks").cast("double") / col("searches"))
          .otherwise(lit(0.0)).as("ctr"))
  }

  // ------------------------------------------------------------------
  // anomaly_detector (reference examples/anomaly_detector.py): per-
  // metric rolling mean/stddev over the last 10 readings, flag values
  // beyond z-score threshold. Reference shape: stateful_map with a
  // DetectorState; here the same fold runs on the secondary-sort
  // stateful engine.
  // ------------------------------------------------------------------

  final case class Reading(metric: String, seq: Long, value: Double)
  final case class Flagged(metric: String, seq: Long, value: Double,
      mu: Double, sigma: Double, anomalous: Boolean)

  def anomalyDetector(readings: DataFrame, thresholdZ: Double = 2.0): Dataset[Flagged] = {
    import readings.sparkSession.implicits._
    StatefulOps.statefulMap[Vector[Double], Flagged](
      readings, "metric", Seq(col("seq")),
      init = _ => Vector.empty[Double]) { (last10, row) =>
      val v = row.getDouble(row.fieldIndex("value"))
      val mu = if (last10.isEmpty) 0.0 else last10.sum / last10.size
      val sigma =
        if (last10.isEmpty) 0.0
        else math.sqrt(last10.map(x => (x - mu) * (x - mu)).sum / last10.size)
      val anomalous = last10.nonEmpty && sigma > 0 && math.abs(v - mu) / sigma > thresholdZ
      val next = (v +: last10).take(10)
      (next, Flagged(row.getString(row.fieldIndex("metric")),
        row.getLong(row.fieldIndex("seq")), v, mu, sigma, anomalous))
    }
  }

  // ------------------------------------------------------------------
  // 1brc (reference examples/1brc.py): min/mean/max measurement per
  // station — fold_final over a large scan, the canonical
  // billion-row-challenge shape.
  // ------------------------------------------------------------------

  def oneBrc(readings: DataFrame, station: String, value: String): DataFrame =
    readings.groupBy(col(station).as("station"))
      .agg(
        min(col(value)).as("min_v"),
        (sum(col(value).cast("decimal(18,2)")).cast("double") / count(lit(1))).as("mean_v"),
        max(col(value)).as("max_v"))

  // ------------------------------------------------------------------
  // events_to_parquet (reference examples/events_to_parquet.py):
  // ingest → parse → enrich → partitioned parquet out.
  // ------------------------------------------------------------------

  def eventsToParquet(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val enriched = Ops.map(ev,
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      to_date(col("ts")).as("day"))
    enriched.write.mode("overwrite").partitionBy("day").parquet(outDir)
  }

  // ------------------------------------------------------------------
  // confluent_serde (reference examples/confluent_serde.py): registry-
  // driven avro in → window avg per sensor → registry-driven avro out.
  // The reference crashes on error streams (inspect → raises); here the
  // caller gets them back (same information, idiomatic Spark). The
  // reference windows on SystemClock; the value's own timestamp field
  // is the deterministic Spark-side clock.
  // ------------------------------------------------------------------

  val sensorKeySchema: String =
    """{"type":"record","name":"sensor_key","fields":[
      |{"name":"identifier","type":"string"},{"name":"name","type":"string"}]}""".stripMargin
  val sensorValueSchema: String =
    """{"type":"record","name":"sensor_sample","fields":[
      |{"name":"timestamp","type":"long"},{"name":"identifier","type":"string"},
      |{"name":"value","type":"long"}]}""".stripMargin
  val aggregatedSchema: String =
    """{"type":"record","name":"aggregated_sensor","fields":[
      |{"name":"identifier","type":"string"},{"name":"avg","type":"double"},
      |{"name":"window_start","type":"long"},{"name":"window_end","type":"long"}]}""".stripMargin

  /** kafka-shaped rows (key/value wire bytes) → per-sensor 1s-window
    * averages, re-serialized with the `aggregated` subject's schema.
    * Returns (serialized aggregates, deserialization error stream).
    */
  def confluentSerde(raw: DataFrame, registry: KafkaOps.SchemaRegistry):
      (Dataset[Array[Byte]], Dataset[KafkaOps.KafkaDeserError]) = {
    val spark = raw.sparkSession
    import spark.implicits._
    val de = new KafkaOps.RegistryAvroDeserializer(registry)
    val msgs = KafkaOps.deserialize[(String, Long, Long)](raw,
      keyDeser = b => de(b).get("identifier").toString,
      valDeser = de.apply,
      toOk = (k, v, _) => (k.asInstanceOf[String],
        v.get("value").asInstanceOf[Long], v.get("timestamp").asInstanceOf[Long]))
    val agged = msgs.oks.toDF("identifier", "value", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .groupBy(window(col("ts"), "1 second"), col("identifier"))
      .agg(avg(col("value")).as("avg"))
      .select(col("identifier"), col("avg"),
        unix_millis(col("window.start")).as("ws"), unix_millis(col("window.end")).as("we"))
      .as[(String, Double, Long, Long)]
    val ser = new KafkaOps.RegistryAvroSerializer(registry, "aggregated-value")
    val aggSchema = aggregatedSchema // local: don't ship the Examples object
    val out = KafkaOps.serializeValue(agged, ser) { case (ident, a, ws, we) =>
      val r = new org.apache.avro.generic.GenericData.Record(
        new org.apache.avro.Schema.Parser().parse(aggSchema))
      r.put("identifier", ident); r.put("avg", a)
      r.put("window_start", ws); r.put("window_end", we)
      r
    }
    (out, msgs.errs)
  }

  // ------------------------------------------------------------------
  // wordcount (reference examples/wordcount.py): lower → tokenize →
  // count_final. The reference's regex tokenizer, expression-first.
  // ------------------------------------------------------------------

  def wordCount(lines: DataFrame, lineCol: String): DataFrame =
    lines
      .select(explode(split(lower(col(lineCol)), """[\s!,.?":;0-9]+""")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").count()

  // ------------------------------------------------------------------
  // apriori (reference examples/apriori.py): comma-separated baskets →
  // per-item counts + normalized-pair counts (frequent itemsets, k≤2).
  // The itertools.combinations lambda becomes a double posexplode with
  // a position filter — pure expressions, one shuffle per count.
  // ------------------------------------------------------------------

  def apriori(lines: DataFrame, lineCol: String): (DataFrame, DataFrame) = {
    val baskets = lines.select(
      transform(split(col(lineCol), ","), w => trim(w)).as("basket"))
    val itemCounts = baskets
      .select(explode(col("basket")).as("item"))
      .groupBy("item").count()
    val pairCounts = baskets
      .select(col("basket"), posexplode(col("basket")).as(Seq("i", "a")))
      .select(col("a"), col("i"), posexplode(col("basket")).as(Seq("j", "b")))
      .filter(col("i") < col("j"))
      // reference normalizes with sorted(pair) then joins with ","
      .select(concat_ws(",", array_sort(array(col("a"), col("b")))).as("pair"))
      .groupBy("pair").count()
    (itemCounts, pairCounts)
  }

  // ------------------------------------------------------------------
  // join (reference examples/join.py): three sources keyed on user_id
  // fan out to four value streams (name, email, color, sound) joined
  // with the defaults insert_mode="last", emit_mode="complete"
  // (operators/__init__.py:2327-2330) — one row per key the moment
  // every side has a value. `arrival` stands in for stream arrival
  // order (the example's sources emit one item each, in program order).
  // ------------------------------------------------------------------

  def joinCascade(spark: SparkSession, users: DataFrame, emails: DataFrame,
      attrs: DataFrame): DataFrame = {
    import graft.operators.JoinOps
    def side(df: DataFrame, valueCol: String, ord: Int) = JoinOps.Side(
      df.select(col("user_id"), lit(ord).as("arrival"), col(valueCol)), valueCol)
    JoinOps.joinComplete(spark, "user_id", "arrival", JoinOps.InsertLast,
        side(users, "name", 0), side(emails, "email", 1),
        side(attrs, "color", 2), side(attrs, "sound", 3))
      .select(col("key").as("user_id"), col("side0").as("name"),
        col("side1").as("email"), col("side2").as("color"), col("side3").as("sound"))
  }

  // ------------------------------------------------------------------
  // basic (reference examples/basic.py): the branch/route/merge shape —
  // split evens/odds, halve the evens, double the odds, merge, subtract
  // one, wrap in a string. Written on the graft.api.ops facade so the
  // step-id'd program reads like the reference flow.
  // ------------------------------------------------------------------

  // ------------------------------------------------------------------
  // poll_and_split (reference examples/poll_and_split.py): poll an
  // external max-item-id counter, stateful_map the id range since the
  // last poll (first poll backfills the latest 10), flat_map the range
  // open, redistribute so per-id fetches parallelize across workers,
  // filter_map the metadata fetch (None ⇔ failed download, skipped),
  // branch stories from comments. `polls` stands for the reference's
  // HNSource SimplePollingSource ticks (arrival-ordered by poll_seq);
  // `fetch` is the external API call — injected so specs mock it, the
  // same boundary the reference's `download_metadata` sits on.
  // ------------------------------------------------------------------

  final case class HnItem(id: Long, kind: String, by: String)

  def hnScraper(polls: DataFrame, fetch: Long => Option[HnItem]):
      (Dataset[HnItem], Dataset[HnItem]) = {
    val spark = polls.sparkSession
    import spark.implicits._
    // stateful_map "range": previous max → ids since (reference mapper;
    // the first poll's old_max backfills new_max - 10)
    val ranges = StatefulOps.statefulMap[Long, Seq[Long]](
      polls.select(lit("GLOBAL_ID").as("k"), col("poll_seq"), col("max_id")),
      "k", Seq(col("poll_seq")), init = _ => -1L) { (oldMax, row) =>
      val newMax = row.getLong(row.fieldIndex("max_id"))
      val start = if (oldMax < 0) newMax - 10 else oldMax
      (newMax, Vector.range(start, newMax))
    }
    val ids = Ops.flatten(ranges.toDF("ids"), "ids", "id")
    // redistribute: downstream fetch parallelism no longer bound to the
    // single-key stateful partition (the reference's stated reason)
    val redist = Ops.redistribute(ids, 0)
    val items = Ops.filterMapTyped(redist.as[Long])(fetch)
    val (stories, comments) = Ops.branch(items.toDF(), col("kind") === "story")
    (stories.as[HnItem], comments.as[HnItem])
  }

  // ------------------------------------------------------------------
  // batch_operator (reference examples/batch_operator.py): collect into
  // size-limited batches, average each batch, then re-batch the
  // averages and format. Streaming keeps the reference's size+timeout
  // semantics (TransformWithStateOps.collectTws); bounded input has no
  // timeouts, so the batch rendering chunks each key's arrival-ordered
  // stream at the size limit — relational throughout (row_number →
  // chunk id → ordered collect), no lambdas.
  // ------------------------------------------------------------------

  /** `collect(max_size)` on bounded input: each key's values in
    * `orderBy` order, chunked into arrays of ≤ `maxSize`.
    * Output: key, chunk (0-based), values.
    */
  def collectChunks(df: DataFrame, keyCol: String, orderBy: Column,
      valueExpr: Column, maxSize: Int): DataFrame = {
    require(maxSize > 0, "maxSize must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderBy)
    df.select(col(keyCol).as("key"), valueExpr.as("v"),
        (row_number().over(w) - 1).as("rn"))
      .withColumn("chunk", (col("rn") / maxSize).cast("long"))
      .groupBy(col("key"), col("chunk"))
      .agg(transform(array_sort(collect_list(struct(col("rn"), col("v")))),
        s => s.getField("v")).as("values"))
  }

  /** The example's full flow: numbers arrive in `seq` order under one
    * key; batch by `batchSize`, average each batch, batch the averages
    * by `avgBatchSize`, render the reference's output string.
    */
  def batchAvgs(nums: DataFrame, seqCol: String, valueCol: String,
      batchSize: Int = 3, avgBatchSize: Int = 10): DataFrame = {
    val keyed = nums.select(lit("ALL").as("k"),
      col(seqCol).as("seq"), col(valueCol).cast("double").as("x"))
    val avgs = collectChunks(keyed, "k", col("seq"), col("x"), batchSize)
      .select(col("key"), col("chunk"),
        (aggregate(col("values"), lit(0.0), (a, x) => a + x) / size(col("values"))).as("avg"))
    collectChunks(avgs.select(col("key"), col("chunk"), col("avg")),
        "key", col("chunk"), col("avg"), avgBatchSize)
      .select(col("chunk"), concat(lit("Avg batch:\t"),
        col("values").cast("string")).as("out"))
  }

  // ------------------------------------------------------------------
  // split_demo (reference examples/split_demo.py): one polled source of
  // Msg(key, val, headers, num) fanned into three keyed value streams,
  // re-joined under the defaults (insert last, emit complete) — one row
  // per message the moment all three projections arrived. The polling
  // tick order is `arrival`; each projection gets a distinct sub-order
  // (3·arrival + side) because the three sides of one message reach the
  // join as three separate items, in program order, like the
  // reference's three `op.map` streams.
  // ------------------------------------------------------------------

  def splitDemo(msgs: DataFrame): DataFrame = {
    import graft.operators.JoinOps
    val spark = msgs.sparkSession
    def side(i: Int, valueExpr: Column, as: String) = JoinOps.Side(
      msgs.select(col("key"), (col("arrival") * 3 + i).as("arrival"),
        valueExpr.as(as)), as)
    JoinOps.joinComplete(spark, "key", "arrival", JoinOps.InsertLast,
        side(0, col("value"), "value"),
        side(1, to_json(col("headers")), "headers"),
        side(2, col("num"), "num"))
      .select(col("key"), col("side0").as("value"),
        col("side1").as("headers"), col("side2").as("num"))
  }

  // ------------------------------------------------------------------
  // wikistream (reference examples/wikistream.py): SSE recent-changes
  // feed → 2s tumbling count per server_name → running max-per-window
  // per server (stateful_map keep_max) → "server, max" lines. The
  // aiohttp SSE generator is the external boundary: `changes` carries
  // the already-arrived event JSON with its arrival timestamp
  // (batch_async's 0.25s/1000-item batching ⇔ micro-batch framing; the
  // reference's SystemClock ⇔ the arrival ts column).
  // ------------------------------------------------------------------

  def wikistream(changes: DataFrame, tsCol: String, jsonCol: String): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    val parsed = changes.select(col(tsCol).as("ts"),
      get_json_object(col(jsonCol), "$.server_name").as("server_name"))
    val counts = Windowing.countWindow(parsed, EventClock("ts"),
      TumblingWindower("2 seconds"), Seq(col("server_name")))
    val maxed = StatefulOps.statefulMap[Long, (String, Long)](
      counts.select(col("server_name"), col("window.start").as("ws"), col("n")),
      "server_name", Seq(col("ws")), init = _ => Long.MinValue) { (mx, row) =>
      val n = row.getLong(row.fieldIndex("n"))
      val newMax = math.max(mx, n)
      (newMax, (row.getString(row.fieldIndex("server_name")), newMax))
    }
    maxed.toDF("server_name", "max_per_window")
      .select(concat_ws(", ", col("server_name"), col("max_per_window")).as("out"))
  }

  // ------------------------------------------------------------------
  // event_time_processing (reference examples/event_time_processing.py):
  // kafka sensor JSON → key on reading type → EventClock(10s wait)
  // 5s tumbling collect_window → per-window average + span, formatted.
  // The broker is the external boundary (`raw` carries the value
  // strings); the collect-then-fold becomes one relational aggregate —
  // same output rows, no per-window list materialization.
  // ------------------------------------------------------------------

  def sensorWindowAvg(raw: DataFrame, valueCol: String): DataFrame = {
    val parsed = raw
      .select(from_json(col(valueCol),
        org.apache.spark.sql.types.StructType.fromDDL(
          "type STRING, value DOUBLE, time STRING")).as("e"))
      .select(col("e.type").as("k"), col("e.value").as("v"),
        to_timestamp(col("e.time")).as("ts"))
    Windowing.aggWindow(parsed, EventClock("ts", waitFor = "10 seconds"),
        TumblingWindower("5 seconds"), Seq(col("k")),
        Seq(avg(col("v")).as("avg_v"), count(lit(1)).as("n"),
          min(col("ts")).as("from_ts"), max(col("ts")).as("to_ts")))
      .select(format_string("Average %s: %.2f\tNum events: %d\tFrom %s\tto %s",
        col("k"), col("avg_v"), col("n"),
        col("from_ts").cast("string"), col("to_ts").cast("string")).as("out"))
  }

  // ------------------------------------------------------------------
  // periodic_input + custom_metrics (reference examples/): a periodic
  // partition awoken every `frequency`, emitting its call counter and
  // the scheduled-vs-actual delay, stopping after `n` emissions. The
  // PeriodicPartition's (_counter, _next_awake) instance fields become
  // statefulTws state on the singleton partition (surviving
  // micro-batches + restarts); the prometheus Gauge becomes an observed
  // metric on the stream (read per-batch from StreamingQueryProgress,
  // like the reference scrapes the gauge).
  // ------------------------------------------------------------------

  def periodicCounter(spark: SparkSession, frequencyTicks: Long, n: Long,
      rowsPerSecond: Int = 50): DataFrame = {
    import graft.streaming.TransformWithStateOps.{GraftStatefulLogic, statefulTws}
    import spark.implicits._
    require(frequencyTicks > 0 && n > 0)
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong).load()
      .select(lit("singleton"), col("value")).as[(String, Long)]
    val partition = new GraftStatefulLogic[String, Long, (Long, Long), (Long, Long)] {
      def onBatch(key: String, rows: Seq[Long],
          state: Option[(Long, Long)]): (Option[(Long, Long)], Seq[(Long, Long)]) = {
        val out = Vector.newBuilder[(Long, Long)]
        var (counter, nextAwake) = state.getOrElse((0L, -1L))
        rows.sorted.foreach { tick =>
          if (nextAwake < 0) nextAwake = tick
          if (tick >= nextAwake && counter < n) {
            counter += 1
            out += ((counter, tick - nextAwake)) // the reference's delay gauge
            nextAwake += frequencyTicks
          }
        }
        (Some((counter, nextAwake)), out.result())
      }
    }
    statefulTws(ticks, partition).map(_._2).toDF("counter", "delay_ticks")
      .observe("periodic", avg(col("delay_ticks")).as("next_batch_delay"))
  }

  // ------------------------------------------------------------------
  // benchmark_windowing (reference examples/benchmark_windowing.py):
  // BATCH_SIZE second-spaced timestamps from an aligned origin, keyed
  // pseudo-randomly over `keys` keys, folded into 1-minute tumbling
  // windows by list-append (fold_window(list, append, concat) ≡
  // collect_window), flattened, then filtered away — the reference
  // discards all output; the flow exists to measure windowing
  // throughput. Two fidelity notes: the random key becomes a
  // deterministic hash (same key distribution, reproducible), and the
  // reference's minute windows aligned to 2022-01-01 coincide with
  // Spark's epoch-aligned windows because the origin is minute-aligned.
  // ------------------------------------------------------------------

  def windowingBench(spark: SparkSession, batchSize: Long, keys: Int = 2): DataFrame =
    windowingBenchFlat(spark, batchSize, keys)
      .filter(lit(false)) // op.filter filter_all
  // NOTE: Catalyst's PruneFilters folds filter(false) into an empty
  // relation and deletes the whole upstream flow — running the port
  // verbatim measures the optimizer, not the window engine. Time
  // [[windowingBenchFlat]] (everything the reference times, minus the
  // discarded sink); see tools.WindowBench.

  /** The measured portion: input → key_on → fold_window(list append)
    * → flatten.
    */
  def windowingBenchFlat(spark: SparkSession, batchSize: Long, keys: Int = 2): DataFrame = {
    val origin = 1640995200L // 2022-01-01T00:00:00Z, the reference's align_to
    val inp = spark.range(batchSize)
      .select(timestamp_seconds(lit(origin) + col("id")).as("ts"))
      .select(pmod(xxhash64(col("ts")), lit(keys)).cast("string").as("key"), col("ts"))
    val wo = Windowing.collectWindow(inp,
      EventClock("ts", waitFor = "0 seconds"), TumblingWindower("1 minute"),
      Seq(col("key")), col("ts"), as = "values")
    wo.select(explode(col("values")).as("x")) // op.flat_map flatten-window
  }

  /** The end-to-end training-data story a pipeline owner runs per
    * corpus drop — every stage a graft operator, one pass each:
    * boilerplate-line removal → full curation (PII scrub, quality
    * gate, exact + near-dup cluster dedup, decontamination) → chunk
    * to windows → pack to training sequences; alongside, the per-drop
    * statistics report (sketch suite) the maintenance loop persists.
    * Returns (sequences, report).
    */
  def curationPipeline(docs: DataFrame, evalDocs: DataFrame,
      chunkTokens: Int = 64, budget: Int = 256): (DataFrame, DataFrame) = {
    import graft.functions.{Bloom, Cms, Dedup, Hist, Hll, SimHash, Text}
    val lined = Text.lineDedup(docs.select(col("doc_id"), col("text")),
      col("doc_id"), col("text"), minCount = 3)
    val kept = Dedup.curateFull(
      lined.select(col("id").as("doc_id"), col("text")),
      col("doc_id"), col("text"),
      evalDocs.select(col("text")), col("text"),
      stopwords = Text.langStopwords.flatMap(_._2), minQuality = 0.2,
      n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      decontamN = 5, decontamMinShared = 1)
    // curateFull keeps (id, quality); re-attach the scrubbed text
    val keptDocs = lined.select(col("id"), col("text"))
      .join(kept.select(col("id")), "id")
    val chunks = Text.chunkDocs(keptDocs, col("id"), col("text"),
        chunkTokens, chunkTokens)
      .select((col("id") * 100000 + col("chunk_idx")).as("cid"), col("chunk_text"))
    val sequences = Text.assemblePacksAuto(chunks, col("cid"), col("chunk_text"), budget)
    val th = SimHash.fnv1a64(col("t"))
    val report = keptDocs
      .select(explode(graft.functions.Text.tokens(col("text"))).as("t"))
      .agg(count(lit(1)).as("n_tokens"),
        Hll.hllEstimate(Hll.hllSketch(th, 12)).as("approx_vocab"),
        Cms.cmsSketch(th, lit(1L), 4, 512).as("freq_sketch"),
        Bloom.bloomSketch(th, 65536, 5).as("seen_filter"))
      .crossJoin(keptDocs.agg(
        count(lit(1)).as("n_docs"),
        Hist.histSketch(length(col("text")).cast("double"), 0.0, 10000.0, 64)
          .as("len_hist")))
    (sequences, report)
  }

  /** Training-mix assembly — the second half of the curation story
    * ([[curationPipeline]] is the dedup half): Gopher-rule quality
    * gate → LM-perplexity outlier cut (self-trained bigram LM with
    * stupid backoff) → down-mix each source to its per-mille share of
    * a total token budget (exact-decimal membership, never a double
    * rate) → deterministic global shuffle into training shards.
    * Returns (sharded mix, per-source audit report).
    */
  def mixturePipeline(docs: DataFrame, targetTokens: Long,
      sharesPm: Map[String, Long], defaultSharePm: Long = 50L,
      maxPpl: Double = 1e6): (DataFrame, DataFrame) = {
    import graft.functions.{Sampling, Text}
    val stop = Text.langStopwords.head._2
    val gated = Text.gopherFilter(docs, col("text"), stop,
      Text.GopherThresholds(minTokens = 10))
    val model = Text.lmTrain(gated, col("text"))
    val scored = Text.lmScore(gated, col("doc_id"), col("text"), model)
      .filter(col("ppl") <= maxPpl)
    val kept = gated.join(scored.select(col("id").as("doc_id"), col("ppl")), "doc_id")
      .withColumn("n_tok", Text.tokenCount(col("text")).cast("long"))
    val mixed = Sampling.mixToBudget(kept, col("doc_id"), col("source"),
      col("n_tok"), targetTokens, sharesPm, defaultSharePm)
    val sharded = Sampling.shuffleShardsAuto(mixed, col("doc_id"))
    val report = kept.groupBy(col("source")).agg(
        count(lit(1)).as("n_gated"), sum(col("n_tok")).as("tok_gated"))
      .join(mixed.groupBy(col("source")).agg(
        count(lit(1)).as("n_mixed"), sum(col("n_tok")).as("tok_mixed")),
        Seq("source"), "left")
    (sharded, report)
  }

  def basicRouter(nums: DataFrame): DataFrame = {
    import graft.api.{ops, Flow, Stream}
    val flow = Flow("basic")
    val inp = Stream[Row](nums, flow, "inp")
    val branch = ops.branch("e_o", inp, col("x") % 2 === 0)
    val evens = ops.map("halve", branch.trues, (col("x") / 2).cast("int").as("x"))
    val odds = ops.map("double", branch.falses, (col("x") * 2).as("x"))
    val combo = ops.merge("merge", evens, odds)
    val minusOne = ops.map("minus_one", combo, (col("x") - 1).as("x"))
    ops.map("stringy", minusOne,
      concat(lit("<dance>"), col("x"), lit("</dance>")).as("out")).ds.toDF()
  }
}
