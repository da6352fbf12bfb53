package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Cms, CmsImpl, CorpusSketch, CorpusSketchImpl, Dedup, Hist, HistImpl, Sampling, SimHash, Text}

/** Corpus-statistics sketch suite (CMS / corpus MinHash / histogram)
  * and corpus-maintenance ops (line dedup, snapshot diff).
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  // ---- normalization ----

  test("normalize: hand cases, stage toggles, idempotency, dedup composition") {
    import graft.functions.{Dedup, Text}
    def norm(s: String, lc: Boolean = true, punct: Boolean = true,
        digits: Boolean = false): String =
      Seq(Tuple1(s)).toDF("t")
        .select(Text.normalize($"t", lc, punct, digits)).as[String].head()
    assert(norm("  Hello,   World!\t42\n") === "hello world 42")
    assert(norm("  Hello,   World!\t42\n", digits = true) === "hello world 00")
    // punctuation becomes a boundary, never a weld
    assert(norm("end.Start") === "end start")
    assert(norm("end.Start", punct = false) === "end.start")
    assert(norm("MiXeD", lc = false) === "MiXeD")
    assert(norm("") === "" && norm("   \t ") === "")
    // idempotent: a normalized form is its own normalization
    val docs = Tables.load(spark, sf001, "documents").limit(200)
      .select(concat(upper($"text"), lit("!  [9]")).as("t"))
    val once = docs.select(Text.normalize($"t", foldDigits = true).as("n1"))
    val twice = once.select($"n1",
      Text.normalize($"n1", foldDigits = true).as("n2"))
    assert(twice.filter($"n1" =!= $"n2").count() === 0L)
    // composition: case/punct variants of one doc collapse under
    // exact dedup only AFTER normalization
    val variants = Seq((1L, "the cat sat"), (2L, "The cat  sat!"),
      (3L, "THE CAT SAT."), (4L, "a different doc")).toDF("doc_id", "text")
    def dupGroups(t: org.apache.spark.sql.Column) =
      variants.groupBy(md5(t).as("fp"))
        .agg(count(lit(1)).as("n")).filter($"n" > 1)
    assert(dupGroups($"text").count() === 0L)
    assert(dupGroups(Text.normalize($"text"))
      .select($"n").as[Long].collect().toSeq === Seq(3L))
  }

  // ---- Count-Min sketch ----

  private def skewed(n: Int): DataFrame =
    // zipf-ish: key k appears ~n/(k+1) times
    spark.range(n).toDF("i")
      .select((col("i") % 1000).as("k"))
      .filter(Sampling.splitmix64(col("i")) % (col("k") + 1L) === 0L)

  test("cms estimate is >= exact for every key and tight for heavy keys") {
    val df = skewed(200000).cache()
    try {
      val total = df.count()
      val sk = df.agg(
        Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 4, 512).as("sk"))
      val exact = df.groupBy("k").agg(count(lit(1)).as("exact"))
      val rows = exact.crossJoin(broadcast(sk))
        .select(col("k"), col("exact"),
          Cms.cmsEstimate(col("sk"), Sampling.splitmix64(col("k"))).as("est"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Long]("est") >= r.getAs[Long]("exact"),
          s"one-sided bound violated at k=${r.getAs[Long]("k")}")
      }
      // CMS guarantee: P(err > e/w * N) <= exp(-d). With d=4, w=512:
      // e/w*N ~ N/188. Allow 5x the Markov bound's failure count.
      val bound = (math.E / 512 * total).toLong
      val over = rows.count(r => r.getAs[Long]("est") - r.getAs[Long]("exact") > bound)
      assert(over <= math.max(1, (rows.length * 5 * math.exp(-4.0)).toInt),
        s"$over of ${rows.length} keys exceed the eps*N bound $bound")
    } finally df.unpersist()
  }

  test("cms merge of per-shard sketches is byte-identical to the direct sketch") {
    val df = skewed(50000).withColumn("shard", col("k") % 7)
    val direct = df.agg(
      Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, 128)).head().getAs[Array[Byte]](0)
    val merged = df.groupBy("shard")
      .agg(Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, 128).as("sk"))
      .agg(Cms.cmsMerge(col("sk"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, merged))
  }

  test("weighted cms over pre-aggregated counts equals unweighted over raw rows") {
    val raw = skewed(30000)
    val agg = raw.groupBy("k").agg(count(lit(1)).as("cnt"))
    val a = raw.agg(Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, 64))
      .head().getAs[Array[Byte]](0)
    val b = agg.agg(Cms.cmsSketch(Sampling.splitmix64(col("k")), col("cnt"), 3, 64))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
  }

  test("cms inner product: join size exact without collisions, >= truth with them") {
    // two sides with known per-key counts: A = {k: k%5+1 copies},
    // B = {k even: 2 copies}; truth = Σ over even k of (k%5+1)·2
    val a = spark.range(20L).select(explode(sequence(lit(1L), $"id" % 5 + 1))
      .as("r"), $"id".as("k")).select($"k")
    val b = spark.range(20L).filter($"id" % 2 === 0)
      .select(explode(sequence(lit(1L), lit(2L))).as("r"), $"id".as("k"))
      .select($"k")
    val truth = (0L until 20L).filter(_ % 2 == 0).map(k => (k % 5 + 1) * 2).sum
    def sk(df: org.apache.spark.sql.DataFrame, w: Int) =
      df.agg(Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, w))
        .head().getAs[Array[Byte]](0)
    // wide: 20 keys in 512 cells — collision-free, estimate EXACT
    val wide = CmsImpl.innerProduct(sk(a, 512), sk(b, 512))
    assert(wide === truth)
    // narrow: 20 keys in 4 cells — must only ever overestimate
    val narrow = CmsImpl.innerProduct(sk(a, 4), sk(b, 4))
    assert(narrow >= truth)
    // shape guard
    val e = intercept[IllegalArgumentException](
      CmsImpl.innerProduct(sk(a, 4), sk(b, 8)))
    assert(e.getMessage.contains("different shape"))
  }

  test("cms refuses to merge mismatched shapes") {
    val a = CmsImpl.create(3, 64)
    val b = CmsImpl.create(3, 128)
    val e = intercept[IllegalArgumentException](CmsImpl.mergeInto(a, b))
    assert(e.getMessage.contains("different shape"))
  }

  test("cms sketch partial-aggregates: sketches cross the exchange, not rows") {
    val df = skewed(10000)
    val plan = df.agg(Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, 64))
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate runs in partial + final mode around the exchange
    assert(plan.contains("cms_sketch"))
    assert(plan.toLowerCase.contains("partial_cms_sketch") ||
      plan.contains("partial"), s"no partial aggregation in:\n$plan")
  }

  test("streaming running count: final estimates bit-equal the batch estimates") {
    import graft.connectors.Testing
    import graft.streaming.{StreamingCms, StreamingOps}
    // last emission per (key, item) = the final (full-data) estimate:
    // counters only grow and every batch re-emits its arrivals
    val rows = (0L until 3000L).map(i => ("k" + (i % 2), i % 37))
    val src = Testing.testingSource[(String, Long)](spark)
    src.addBatch(rows.take(1000): _*)
    src.addBatch(rows.slice(1000, 2000): _*)
    src.addBatch(rows.drop(2000): _*)
    val out = StreamingCms.runningCount(src.toDS(), depth = 3, width = 32)
    val got = StreamingOps.runToMemory(out, "scms").as[(String, (Long, Long))]
      .collect().groupBy(r => (r._1, r._2._1))
      .map { case (k, v) => k -> v.map(_._2._2).max }
    val skDf = rows.toDF("k", "h").groupBy($"k")
      .agg(Cms.cmsSketch($"h", lit(1L), 3, 32).as("sk"))
    val want = rows.toDF("k", "h").distinct().join(skDf, "k")
      .select($"k", $"h", Cms.cmsEstimate($"sk", $"h").as("est"))
      .as[(String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got === want)
  }

  test("streaming cms survives stop/restart without double counting") {
    import graft.connectors.Testing
    import graft.streaming.StreamingCms
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-scms-ckpt").toFile.getPath
    val outDir = Files.createTempDirectory("graft-scms-out").toFile.getPath
    val src = Testing.testingSource[(String, Long)](spark)
    def start() = StreamingCms.runningCount(src.toDS(), depth = 3, width = 32)
      .map { case (k, (h, e)) => (k, h, e) }.toDF("k", "h", "est")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val rows1 = (0L until 500L).map(i => ("k" + (i % 2), i % 11))
    val rows2 = (500L until 1000L).map(i => ("k" + (i % 2), i % 11))
    src.addBatch(rows1: _*)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    src.addBatch(rows2: _*)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    // final estimate per (key, item) = max over emissions; lost state
    // would read low, a replayed batch-1 would read high — both fail
    val got = spark.read.parquet(outDir).as[(String, Long, Long)]
      .collect().groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).max }
    val all = rows1 ++ rows2
    val skDf = all.toDF("k", "h").groupBy($"k")
      .agg(Cms.cmsSketch($"h", lit(1L), 3, 32).as("sk"))
    val want = all.toDF("k", "h").distinct().join(skDf, "k")
      .select($"k", $"h", Cms.cmsEstimate($"sk", $"h").as("est"))
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === want)
  }

  test("all four sketch families survive a parquet round-trip and re-merge to the direct sketch") {
    import graft.functions.{Bloom, Hll}
    import java.nio.file.Files
    // the suite's core claim: persist one sketch per shard, merge in a
    // LATER JOB — so the sketch must survive disk, not just the exchange
    val dir = Files.createTempDirectory("graft-sketch-rt").toFile.getPath
    val df = skewed(40000).withColumn("shard", col("k") % 5)
    df.groupBy("shard").agg(
        Hll.hllSketch(Sampling.splitmix64(col("k")), 8).as("hsk"),
        Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, 64).as("csk"),
        Bloom.bloomSketch(Sampling.splitmix64(col("k")), 1024, 3).as("bsk"),
        CorpusSketch.corpusMinhash(Sampling.splitmix64(col("k")), 32).as("msk"),
        Hist.histSketch(col("k").cast("double"), 0.0, 1000.0, 20).as("hist"))
      .write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val merged = back.agg(
      Hll.hllMerge(col("hsk")).as("h"), Cms.cmsMerge(col("csk")).as("c"),
      Bloom.bloomMerge(col("bsk")).as("b"),
      CorpusSketch.corpusMinhashMerge(col("msk")).as("m"),
      Hist.histMerge(col("hist")).as("g")).head()
    val direct = df.agg(
      Hll.hllSketch(Sampling.splitmix64(col("k")), 8).as("h"),
      Cms.cmsSketch(Sampling.splitmix64(col("k")), lit(1L), 3, 64).as("c"),
      Bloom.bloomSketch(Sampling.splitmix64(col("k")), 1024, 3).as("b"),
      CorpusSketch.corpusMinhash(Sampling.splitmix64(col("k")), 32).as("m"),
      Hist.histSketch(col("k").cast("double"), 0.0, 1000.0, 20).as("g")).head()
    assert(java.util.Arrays.equals(merged.getAs[Array[Byte]]("h"), direct.getAs[Array[Byte]]("h")))
    assert(java.util.Arrays.equals(merged.getAs[Array[Byte]]("c"), direct.getAs[Array[Byte]]("c")))
    assert(java.util.Arrays.equals(merged.getAs[Array[Byte]]("b"), direct.getAs[Array[Byte]]("b")))
    assert(merged.getSeq[Long](merged.fieldIndex("m")) == direct.getSeq[Long](direct.fieldIndex("m")))
    assert(merged.getSeq[Long](merged.fieldIndex("g")) == direct.getSeq[Long](direct.fieldIndex("g")))
  }

  // ---- Corpus MinHash ----

  /** Two corpora of item ids with known Jaccard: |A|=|B|=n, overlap o. */
  private def twoCorpora(n: Int, o: Int): (DataFrame, DataFrame) = {
    val a = spark.range(n).toDF("item")
    val b = spark.range(n - o, 2L * n - o).toDF("item")
    (a, b)
  }

  test("corpus minhash jaccard estimate is accurate at k=256") {
    val n = 20000
    val o = 10000 // true J = o / (2n - o) = 1/3
    val (a, b) = twoCorpora(n, o)
    def sig(df: DataFrame) = df
      .agg(CorpusSketch.corpusMinhash(Sampling.splitmix64(col("item")), 256).as("sig"))
    val est = sig(a).crossJoin(sig(b).withColumnRenamed("sig", "sigB"))
      .select(CorpusSketch.jaccardEstimate(col("sig"), col("sigB")))
      .head().getDouble(0)
    val trueJ = o.toDouble / (2.0 * n - o)
    // stderr = sqrt(J(1-J)/k) ~ 0.029; 4 sigma ~ 0.12
    assert(math.abs(est - trueJ) < 0.12, s"est=$est true=$trueJ")
  }

  test("corpus minhash merge of shard signatures equals the direct signature") {
    val df = spark.range(30000).toDF("item").withColumn("shard", col("item") % 5)
    val direct = df
      .agg(CorpusSketch.corpusMinhash(Sampling.splitmix64(col("item")), 64))
      .head().getSeq[Long](0).toVector
    val merged = df.groupBy("shard")
      .agg(CorpusSketch.corpusMinhash(Sampling.splitmix64(col("item")), 64).as("sig"))
      .agg(CorpusSketch.corpusMinhashMerge(col("sig")))
      .head().getSeq[Long](0).toVector
    assert(direct == merged)
  }

  test("corpus minhash merge is idempotent and duplicate-insensitive") {
    val items = spark.range(5000).toDF("item")
    val sig = items
      .agg(CorpusSketch.corpusMinhash(Sampling.splitmix64(col("item")), 64).as("sig"))
      .head().getSeq[Long](0).toVector
    val twice = Seq((1, sig), (2, sig)).toDF("i", "sig")
      .agg(CorpusSketch.corpusMinhashMerge(col("sig"))).head().getSeq[Long](0).toVector
    assert(twice == sig)
    val dup = items.union(items)
      .agg(CorpusSketch.corpusMinhash(Sampling.splitmix64(col("item")), 64))
      .head().getSeq[Long](0).toVector
    assert(dup == sig)
  }

  test("corpus signatures refuse to merge mismatched k") {
    val e = intercept[IllegalArgumentException](
      CorpusSketchImpl.mergeInto(new Array[Long](64), new Array[Long](128)))
    assert(e.getMessage.contains("different k"))
  }

  test("auto-sized sketches: cms honors its error target, bloom its fpp target") {
    import graft.functions.Bloom
    // cms: relErr 1% of total, delta 10% -> d=3, w=272
    assert(Cms.autoShape(0.01, 0.1) == ((3, 272)))
    val df = skewed(100000).cache()
    try {
      val total = df.count()
      val sk = df.agg(Cms.cmsSketchAuto(Sampling.splitmix64(col("k")), lit(1L),
        relErr = 0.01, delta = 0.1).as("sk"))
      val rows = df.groupBy("k").agg(count(lit(1)).as("exact"))
        .crossJoin(broadcast(sk))
        .select(col("exact"),
          Cms.cmsEstimate(col("sk"), Sampling.splitmix64(col("k"))).as("est"))
        .collect()
      val over = rows.count(r => r.getAs[Long]("est") - r.getAs[Long]("exact") > 0.01 * total)
      assert(over <= math.max(1, (rows.length * 0.2).toInt), s"$over/${rows.length}")
    } finally df.unpersist()

    // bloom: 1000 keys at 1% -> ~9585 bits rounded to bytes, k=7
    val (m, k) = Bloom.autoShape(1000, 0.01)
    assert(m >= 9585 && m % 8 == 0 && k == 7, s"m=$m k=$k")
    val members = spark.range(1000).toDF("id")
    val sk = members.agg(
      Bloom.bloomSketchAuto(Sampling.splitmix64(col("id")), 1000, 0.01).as("sk"))
    val fp = spark.range(1000, 21000).toDF("id").crossJoin(broadcast(sk))
      .filter(graft.functions.Bloom.bloomContains(col("sk"), Sampling.splitmix64(col("id"))))
      .count()
    assert(fp < 20000 * 0.03, s"fp=$fp of 20000 at target 1%")
  }

  // ---- Bloom ----

  test("bloom has no false negatives and a sane false-positive rate at 10 bits/key") {
    import graft.functions.{Bloom, BloomImpl}
    val members = spark.range(1000).toDF("id")
    val sk = members.agg(
      Bloom.bloomSketch(Sampling.splitmix64(col("id")), 10240, 3).as("sk"))
    val inHits = members.crossJoin(broadcast(sk))
      .filter(Bloom.bloomContains(col("sk"), Sampling.splitmix64(col("id"))))
      .count()
    assert(inHits == 1000L, "false negative")
    val outHits = spark.range(1000, 11000).toDF("id").crossJoin(broadcast(sk))
      .filter(Bloom.bloomContains(col("sk"), Sampling.splitmix64(col("id"))))
      .count()
    // expected fp ~ (1-e^(-3*1000/10240))^3 ~ 1.6% of 10000 = ~160; allow 3x
    assert(outHits < 500, s"fp rate too high: $outHits/10000")
    val e = intercept[IllegalArgumentException](
      BloomImpl.mergeInto(BloomImpl.create(512, 3), BloomImpl.create(1024, 3)))
    assert(e.getMessage.contains("different shape"))
  }

  test("bloom merge of shard filters is byte-identical to the direct filter and idempotent") {
    import graft.functions.Bloom
    val df = spark.range(5000).toDF("id").withColumn("shard", col("id") % 4)
    val direct = df.agg(Bloom.bloomSketch(Sampling.splitmix64(col("id")), 4096, 3))
      .head().getAs[Array[Byte]](0)
    val shards = df.groupBy("shard")
      .agg(Bloom.bloomSketch(Sampling.splitmix64(col("id")), 4096, 3).as("sk"))
    val merged = shards.agg(Bloom.bloomMerge(col("sk"))).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, merged))
    val twice = shards.union(shards).agg(Bloom.bloomMerge(col("sk")))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, twice))
  }

  // ---- KMV sample ----

  test("kmv sample is deterministic under repartition, duplicate-insensitive, and merge ≡ direct") {
    import graft.functions.Kmv
    import org.apache.spark.sql.Row
    def sample(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.agg(Kmv.kmvSample(Sampling.splitmix64(col("id")),
          col("id").cast("string"), 16))
        .head().getSeq[Row](0).map(r => (r.getLong(0), r.getString(1)))
    val base = spark.range(5000).toDF("id")
    val a = sample(base)
    assert(a.length == 16 && a == a.sortBy(_._1))
    assert(sample(base.repartition(17)) == a, "partition order changed the sample")
    assert(sample(base.union(base)) == a, "duplicates changed the sample")
    // merge of per-shard samples == direct
    val merged = base.withColumn("shard", col("id") % 7)
      .groupBy("shard")
      .agg(Kmv.kmvSample(Sampling.splitmix64(col("id")),
        col("id").cast("string"), 16).as("s"))
      .agg(Kmv.kmvMerge(col("s"), 16))
      .head().getSeq[Row](0).map(r => (r.getLong(0), r.getString(1)))
    assert(merged == a)
    // fewer distinct items than k: sample is the whole set
    val tiny = sample(spark.range(5).toDF("id"))
    assert(tiny.length == 5)
  }

  test("kmv equal-hash collisions keep the smallest payload deterministically") {
    import graft.functions.{Kmv, KmvImpl}
    import org.apache.spark.unsafe.types.UTF8String
    val buf = new KmvImpl.Buf
    KmvImpl.insert(buf, 4, 10L, UTF8String.fromString("zz"))
    KmvImpl.insert(buf, 4, 10L, UTF8String.fromString("aa"))
    KmvImpl.insert(buf, 4, 10L, UTF8String.fromString("mm"))
    assert(buf.get(10L).toString == "aa")
    // and via the Column path with a constant hash
    val got = Seq(("zz"), ("aa"), ("mm")).toDF("v")
      .agg(Kmv.kmvSample(lit(10L), col("v"), 4))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(got.length == 1 && got.head.getString(1) == "aa")
  }

  // ---- Histogram ----

  test("hist counts match exact bin counts and quantile slot brackets the exact quantile") {
    val df = spark.range(10000).toDF("i")
      .select((Sampling.splitmix64(col("i")) % 1000L).cast("double").as("v"))
      .cache()
    try {
      val lo = -1000.0; val hi = 1000.0; val nbins = 40
      val h = df.agg(Hist.histSketch(col("v"), lo, hi, nbins).as("h"))
      val counts = h.select(col("h")).head().getSeq[Long](0).toVector
      assert(counts.length == nbins + 2)
      assert(counts.sum == 10000L)
      // exact per-bin counts via the same floor arithmetic
      val exact = df.select(
        when(col("v") < lo, 0)
          .when(col("v") >= hi, nbins + 1)
          .otherwise(lit(1) + least(floor((col("v") - lo) * nbins / (hi - lo)).cast("int"),
            lit(nbins - 1))).as("slot"))
        .groupBy("slot").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      counts.zipWithIndex.foreach { case (c, i) =>
        assert(c == exact.getOrElse(i, 0L), s"slot $i: $c vs ${exact.getOrElse(i, 0L)}")
      }
      // quantile value within one bin width of the exact percentile
      val est = h.select(Hist.histQuantileValue(col("h"), 0.5, lo, hi, nbins))
        .head().getDouble(0)
      val ex = df.agg(expr("percentile(v, 0.5)")).head().getDouble(0)
      assert(math.abs(est - ex) <= (hi - lo) / nbins, s"est=$est exact=$ex")
      // slot agrees with the value
      val slot = h.select(Hist.histQuantileSlot(col("h"), 0.5)).head().getInt(0)
      assert(slot >= 1 && slot <= nbins)
    } finally df.unpersist()
  }

  test("hist merge parity, NaN skipped, empty histogram quantiles") {
    val df = spark.range(8000).toDF("i")
      .select((col("i") % 100L).cast("double").as("v"), (col("i") % 3L).as("shard"))
    val direct = df.agg(Hist.histSketch(col("v"), 0.0, 100.0, 10))
      .head().getSeq[Long](0).toVector
    val merged = df.groupBy("shard")
      .agg(Hist.histSketch(col("v"), 0.0, 100.0, 10).as("h"))
      .agg(Hist.histMerge(col("h"))).head().getSeq[Long](0).toVector
    assert(direct == merged)

    val withNan = spark.range(8000).toDF("i").select(
      when(col("i") % 7 === 0, lit(Double.NaN))
        .otherwise((col("i") % 100L).cast("double")).as("v"))
    val counts = withNan.agg(Hist.histSketch(col("v"), 0.0, 100.0, 10))
      .head().getSeq[Long](0).toVector
    assert(counts.sum == 8000L - 8000L / 7 - 1)

    val empty = spark.range(0).toDF("i").select(col("i").cast("double").as("v"))
      .agg(Hist.histSketch(col("v"), 0.0, 1.0, 4).as("h"))
    assert(empty.select(Hist.histQuantileSlot(col("h"), 0.5)).head().getInt(0) == -1)
    assert(empty.select(Hist.histQuantileValue(col("h"), 0.5, 0.0, 1.0, 4))
      .head().getDouble(0).isNaN)
  }

  test("hist under/overflow quantile values clamp to lo/hi") {
    val df = Seq(-5.0, -4.0, -3.0, 50.0, 200.0).toDF("v")
    val h = df.agg(Hist.histSketch(col("v"), 0.0, 100.0, 10).as("h"))
    assert(h.select(Hist.histQuantileValue(col("h"), 0.1, 0.0, 100.0, 10))
      .head().getDouble(0) == 0.0) // underflow mass
    assert(h.select(Hist.histQuantileValue(col("h"), 0.99, 0.0, 100.0, 10))
      .head().getDouble(0) == 100.0) // overflow mass
  }

  // ---- Line-level dedup ----

  test("lineDedup removes every occurrence of globally-frequent lines, order-preserving") {
    val docs = Seq(
      (1L, "keep one\nBOILER\nkeep two"),
      (2L, "BOILER\nunique line\nBOILER"),
      (3L, "another doc\nBOILER"),
      (4L, "all clean\nhere"),
      (5L, "BOILER") // fully emptied
    ).toDF("doc_id", "text")
    val out = Text.lineDedup(docs, col("doc_id"), col("text"), minCount = 3)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_lines"), r.getAs[Long]("n_removed"))))
      .toMap
    assert(out(1L) == (("keep one\nkeep two", 3L, 1L)))
    assert(out(2L) == (("unique line", 3L, 2L)))
    assert(out(3L) == (("another doc", 2L, 1L)))
    assert(out(4L) == (("all clean\nhere", 2L, 0L)))
    assert(out(5L) == (("", 1L, 1L)))
  }

  test("lineDedup with a threshold above the max count is the identity") {
    val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val out = Text.lineDedup(docs, col("doc_id"), col("text"), minCount = 3)
      .orderBy("id").collect()
    assert(out.map(_.getAs[String]("text")).toSeq == Seq("a\nb", "a\nc"))
    assert(out.map(_.getAs[Long]("n_removed")).sum == 0L)
  }

  test("lineDedup matches a brute-force reference on random corpora") {
    val rnd = new scala.util.Random(42)
    val lines = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 1 + rnd.nextInt(5)).map(_ => lines(rnd.nextInt(lines.size))).mkString("\n"))
    }
    val minCount = 4L
    val counts = docs.flatMap(_._2.split("\n", -1)).groupBy(identity).map { case (l, v) => l -> v.size }
    val boiler = counts.filter(_._2 >= minCount).keySet
    val expected = docs.map { case (id, t) =>
      id -> t.split("\n", -1).filterNot(boiler).mkString("\n")
    }.toMap
    val got = Text.lineDedup(docs.toDF("doc_id", "text"), col("doc_id"), col("text"), minCount)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(got == expected)
  }

  // ---- Length batching (inference serving) ----

  test("lengthBatches: full batches except per-bin tails, padding bounded by the bin width") {
    val docs = (1 to 200).map(i => (i.toLong, (1 to (i % 37 + 1)).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val batchSize = 8; val binWidth = 16
    val assign = Text.lengthBatches(docs, col("doc_id"), col("text"), batchSize, binWidth)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("bin"), r.getAs[Long]("batch")))
    assert(assign.length === 200)
    // bin arithmetic is exact
    assert(assign.forall { case (_, n, b, _) => b == n / binWidth })
    val perBatch = assign.groupBy(t => (t._3, t._4))
    perBatch.foreach { case ((bin, batch), members) =>
      assert(members.length <= batchSize)
      // only the LAST batch of a bin may be short
      val maxBatch = perBatch.keys.filter(_._1 == bin).map(_._2).max
      if (batch < maxBatch) assert(members.length === batchSize)
      // within a batch, pad per member < binWidth
      val mx = members.map(_._2).max
      assert(members.forall(m => mx - m._2 < binWidth))
    }
    // the report face agrees with the assignment
    val rep = Text.lengthBatchReport(docs, col("doc_id"), col("text"), batchSize, binWidth)
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("batch")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("max_tokens"), r.getAs[Long]("pad_tokens"))).toMap
    perBatch.foreach { case (k, members) =>
      val mx = members.map(_._2).max
      assert(rep(k) === ((members.length.toLong, mx, members.map(m => mx - m._2).sum)))
    }
  }

  test("length-sorted batching cuts padding waste vs id-hash batching") {
    val docs = (1 to 512).map(i => (i.toLong, (1 to (i % 97 + 1)).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "text")
    val sortedPad = Text.lengthBatchReport(docs, col("doc_id"), col("text"), 8, 16)
      .agg(sum(col("pad_tokens"))).head().getLong(0)
    // strawman: batch by id order regardless of length
    val straw = docs.select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n"))
      .withColumn("batch", expr("(doc_id - 1) div 8"))
      .groupBy(col("batch"))
      .agg((max(col("n")) * count(lit(1)) - sum(col("n"))).as("pad"))
      .agg(sum(col("pad"))).head().getLong(0)
    assert(sortedPad < straw / 4, s"sorted=$sortedPad straw=$straw")
  }

  test("lengthBatchesAuto handles empty input and derives a positive width") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Text.lengthBatchesAuto(empty, col("doc_id"), col("text"), 8).count() === 0L)
    val docs = Seq((1L, "a b c"), (2L, "a")).toDF("doc_id", "text")
    assert(Text.lengthBatchesAuto(docs, col("doc_id"), col("text"), 8).count() === 2L)
  }

  // ---- Chunking ----

  test("chunkDocs covers every token, overlaps by chunk-stride, remainder chunk correct") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val out = Text.chunkDocs(docs, col("doc_id"), col("text"), chunkTokens = 32, stride = 16)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("chunk_idx"),
        r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens")))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // n=100, chunk=32, stride=16: nc = ((100-32+15) div 16)+1 = 6
    assert(d1.length == 6)
    assert(d1.forall(c => c._3.split(" ").length == c._4))
    assert(d1.take(5).forall(_._4 == 32L))
    assert(d1.last._4 == 100L - 5 * 16) // remainder = 20
    // consecutive chunks overlap by exactly chunk - stride = 16 tokens
    d1.sliding(2).foreach { case Array(a, b) =>
      val at = a._3.split(" ").toSeq; val bt = b._3.split(" ").toSeq
      assert(at.takeRight(16) == bt.take(16))
    }
    // full coverage: stride-th token of each chunk reassembles the doc
    val reassembled = (d1.init.map(_._3.split(" ").take(16)).flatten ++
      d1.last._3.split(" ")).mkString(" ")
    assert(reassembled == text)
    // short doc: one chunk, verbatim; empty doc: one empty chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b c", 3L)))
    assert(out.filter(_._1 == 3L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0L, "", 0L)))
  }

  test("chunkDocs plans narrow: zero exchanges, whole-stage codegen") {
    val docs = Tables.load(spark, sf0001, "documents")
    val plan = Text.chunkDocs(docs, col("doc_id"), col("text"), 32, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking shuffled:\n$plan")
    // "*(n)" marks operators inside a WholeStageCodegen span
    assert(plan.linesIterator.next().startsWith("*("), s"no codegen span:\n$plan")
  }

  test("chunkDocs at stride == chunkTokens partitions exactly (no overlap)") {
    val text = (1 to 50).map(i => s"t$i").mkString(" ")
    val out = Text.chunkDocs(Seq((7L, text)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), chunkTokens = 20, stride = 20)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_text"))
    assert(out.length == 3)
    assert(out.mkString(" ") == text)
  }

  test("compression ratio separates boilerplate, prose, and noise") {
    val rows = Seq(
      (1L, "spam " * 200),                       // looped boilerplate
      (2L, Tables.load(spark, sf0001, "documents")
        .limit(1).collect()(0).getAs[String]("text")), // word-soup prose
      (3L, (0 until 1000).map(i => (graft.functions.SamplingImpl.splitmix64(i) & 0x7f)
        .toChar).mkString),                      // near-random bytes
      (4L, "")).toDF("id", "text")
    val got = rows.select(col("id"), Text.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    assert(got(1L) < 0.05, s"boilerplate ratio ${got(1L)}")
    assert(got(2L) > got(1L) && got(2L) < got(3L),
      s"prose ${got(2L)} not between boilerplate ${got(1L)} and noise ${got(3L)}")
    assert(got(3L) > 0.7, s"noise ratio ${got(3L)}")
    assert(got(4L) == 1.0)
    // deterministic across evaluations
    val again = rows.select(Text.compressionRatio(col("text"))).collect().map(_.getDouble(0))
    assert(again.toSeq == rows.select(Text.compressionRatio(col("text")))
      .collect().map(_.getDouble(0)).toSeq)
  }

  // ---- BPE training ----

  test("bpe training learns the hand-computable merges of a tiny corpus") {
    import graft.functions.BpeTrain
    // "abab" x3, "ab" x2: pairs a-b:8, b-a:3 -> merge1 (a,b) cnt 8
    // then words [ab,ab]x3, [ab]x2: pair ab-ab:3 -> merge2 (ab,ab) cnt 3
    val docs = Seq((1L, "abab abab abab ab ab")).toDF("doc_id", "text")
    val m = BpeTrain.train(docs, col("text"), numMerges = 2, minCount = 1L)
    assert(m.map(x => (x.step, x.a, x.b, x.cnt)) ==
      Seq((1, "a", "b", 8L), (2, "ab", "ab", 3L)))
  }

  test("bpe greedy merge is leftmost non-overlapping; apply matches training state") {
    import graft.functions.{BpeApplyExpr, BpeTrain}
    import org.apache.spark.sql.GraftExpr
    // greedy (a,a) on aaaa -> [aa,aa]; on aaa -> [aa,a]
    val out = Seq(Seq("a", "a", "a", "a"), Seq("a", "a", "a")).toDF("syms")
      .select(GraftExpr.column(graft.functions.BpeMergeExpr(
        GraftExpr.expression(col("syms")), "a", "a")).as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out.toList == List(List("aa", "aa"), List("aa", "a")))

    // applying the learned table re-tokenizes the corpus consistently:
    // every output symbol is a char or a learned merge product, and
    // concatenation round-trips the original tokens
    val docs = Tables.load(spark, sf0001, "documents").limit(50)
    val merges = BpeTrain.train(docs, col("text"), numMerges = 4, minCount = 1L)
    assert(merges.size == 4)
    val vocab = merges.map(m => m.a + m.b).toSet ++ ('a' to 'z').map(_.toString).toSet ++
      ('0' to '9').map(_.toString).toSet
    val enc = docs.select(col("doc_id"),
      graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        BpeTrain.applyMerges(col("toks"), merges.map(m => (m.a, m.b))).as("sub"))
      .collect()
    enc.foreach { r =>
      val toks = r.getSeq[String](1)
      val sub = r.getSeq[String](2)
      assert(sub.forall(s => vocab.contains(s) || s.length == 1), s"stray symbol in $sub")
      assert(sub.mkString == toks.mkString, "round-trip failed")
      assert(sub.length < toks.mkString.length || toks.mkString.isEmpty,
        "no compression achieved")
    }
  }

  test("bpe training stops early when no pair reaches minCount") {
    import graft.functions.BpeTrain
    val docs = Seq((1L, "ab cd ef")).toDF("doc_id", "text") // every pair count 1
    val m = BpeTrain.train(docs, col("text"), numMerges = 5, minCount = 2L)
    assert(m.isEmpty)
  }

  // ---- Duplicated-span removal ----

  test("dedupSpans cuts cross-doc and within-doc repeated windows, leaves unique prose") {
    val span = (1 to 8).map(i => s"dup$i").mkString(" ") // the shared 8-gram
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"$span epsilon zeta"),
      (3L, "unique prose with no repeats at all here"),
      (4L, s"$span filler1 filler2 $span"), // within-doc repeat too
      (5L, "")).toDF("doc_id", "text")
    val out = Text.dedupSpans(docs, col("doc_id"), col("text"), spanTokens = 8)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"))))
      .toMap
    assert(out(1L) == (("alpha beta gamma delta", 12L, 8L)))
    assert(out(2L) == (("epsilon zeta", 10L, 8L)))
    assert(out(3L) == (("unique prose with no repeats at all here", 8L, 0L)))
    // doc 4: both copies cut, the fillers survive (they sit inside
    // windows that ALSO span dup tokens? no — coverage is per dup
    // WINDOW content; filler tokens are covered only if a duplicated
    // window contains them. The window "dup5..dup8 filler1 filler2
    // dup1 dup2" occurs twice nowhere, so fillers stay.
    assert(out(4L)._1 == "filler1 filler2" && out(4L)._3 == 16L)
    assert(out(5L) == (("", 0L, 0L)))
  }

  test("decontaminateSpans cuts the quoted eval window, keeps the rest of the doc") {
    val leak = (1 to 8).map(i => s"q$i").mkString(" ") // the benchmark question
    val eval = Seq((s"intro words $leak outro words")).toDF("text")
    val train = Seq(
      (1L, s"good prose before $leak good prose after"), // quoted leak
      (2L, "entirely clean document with original content"),
      (3L, leak)) // the doc IS the leak
      .toDF("doc_id", "text")
    val out = Text.decontaminateSpans(train, col("doc_id"), col("text"),
        eval, col("text"), spanTokens = 8)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("text"), r.getAs[Long]("n_removed")))).toMap
    // doc 1: exactly the leaked window is cut, surrounding prose kept
    assert(out(1L) == (("good prose before good prose after", 8L)))
    // clean doc untouched
    assert(out(2L) == (("entirely clean document with original content", 0L)))
    // fully-leaked doc empties (the doc-level decontaminate analogue)
    assert(out(3L) == (("", 8L)))
    // train-only repeats do NOT cut (unlike dedupSpans): same doc set
    // with an empty eval is identity
    val none = Text.decontaminateSpans(train, col("doc_id"), col("text"),
      Seq.empty[String].toDF("text"), col("text"), spanTokens = 8)
    assert(none.filter(col("n_removed") =!= 0L).count() === 0L)
  }

  test("dedupSpans with no duplicates is the identity modulo whitespace normalization") {
    val docs = Tables.load(spark, sf0001, "documents").limit(30)
      .select(col("doc_id"), col("text"))
    // spanTokens larger than every doc -> no grams -> nothing removed
    val out = Text.dedupSpans(docs, col("doc_id"), col("text"), spanTokens = 5000)
    assert(out.filter(col("n_removed") =!= 0L).count() == 0L)
    val got = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    docs.collect().foreach { r =>
      val want = r.getAs[String]("text").trim.replaceAll("\\s+", " ")
      assert(got(r.getAs[Long]("doc_id")) == want)
    }
  }

  // ---- Snapshot diff ----

  test("snapshotDiff classifies added/removed/changed and hides unchanged by default") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "fp")
    val neu = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "fp")
    val got = Dedup.snapshotDiff(old, neu, "id", "fp")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(got == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val all = Dedup.snapshotDiff(old, neu, "id", "fp", includeUnchanged = true)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("status")).toMap
    assert(all(2L) == "unchanged" && all.size == 4)
  }

  // ---- Domain-level curation ----

  test("sourceFilter: aggregate gates drop whole sources, boundaries inclusive") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // source A: means (2+4)/2 = 3 tokens/doc — passes minMean 3
      // exactly (tok_sum 6 >= 3·2, the >= boundary)
      (1L, "A", "aa bb"), (2L, "A", "cc dd ee ff"),
      // source B: 1 token/doc — fails the token gate, BOTH docs drop
      // (including doc 4, which alone would look identical to doc 1's
      // shape — the domain-level point)
      (3L, "B", "aa"), (4L, "B", "bb"),
      // source C: passes tokens but fails alpha share (digits)
      (5L, "C", "a1 b2 c3 d4 e5 f6"))
      .toDF("doc_id", "source", "text")
    val kept = graft.functions.Text
      .sourceFilter(docs, "source", col("text"), 3L, 700L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(1L, 2L))
    // alpha gate alone relaxed → C comes back, B still out
    val kept2 = graft.functions.Text
      .sourceFilter(docs, "source", col("text"), 3L, 0L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept2 === Set(1L, 2L, 5L))
  }
}
