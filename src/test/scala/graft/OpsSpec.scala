package graft

import graft.ops.{Dedup, HashFamily, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Value-level checks for the LLM-pipeline operators on sf0.001, focused
  * on what the rows-only gate can't see: planted duplicates are FOUND
  * (recall), sketches are deterministic, ANN tracks brute force.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ops-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** base ∪ perturbed (id+1e6, last 3 words dropped) — as in OpsQueries. */
  private def planted = {
    val ws = split(trim(col("text")), "\\s+")
    docs.select(col("doc_id"), col("source"), col("text")).unionAll(
      docs.select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
        concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text")))
  }

  test("minhash LSH finds >=95% of planted near-dups, none below threshold") {
    val n = docs.count()
    val pairs = Dedup.minhashNearDups(planted, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = pairs.count { case (a, b, _) => b == a + 1000000L }
    assert(found >= (n * 0.95).toInt, s"found only $found of $n planted pairs")
    assert(pairs.forall(_._3 >= 0.5))
  }

  test("cross-corpus minhash decontamination recovers planted contamination") {
    val n = docs.count()
    val ws = split(trim(col("text")), "\\s+")
    // "benchmark" corpus: every doc, last 3 words dropped, SAME id space —
    // ids must not be compared across sides (no a<b ordering applies)
    val bench = docs.select(col("doc_id"),
      concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text"))
    val pairs = Dedup.minhashNearDupsAcross(
        docs.select(col("doc_id"), col("text")), bench, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val contaminated = pairs.count { case (l, r, _) => l == r }
    assert(contaminated >= (n * 0.95).toInt,
      s"recovered only $contaminated of $n planted contaminations")
    assert(pairs.forall(_._3 >= 0.5))
  }

  test("cross-corpus embedding near-dup keeps both directions (separate id spaces)") {
    val base = emb.select(col("vec_id"), col("embedding"))
    val out = Dedup.embeddingNearDupsAcross(base, base, "vec_id", "embedding",
        dim = 64, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    // every vector matches itself across sides at cosine 1
    assert((0L until n).forall(i => out.contains((i, i))))
    // no a<b ordering applies across corpora: matches appear in BOTH
    // directions or not at all
    val offDiag = out.filter { case (l, r) => l != r }
    assert(offDiag.forall { case (l, r) => offDiag.contains((r, l)) })
  }

  test("minhash signature approximates true jaccard") {
    val sig = Dedup.minhashSignature(col("text"))
    val withSig = planted.select(col("doc_id"), sig.as("sig"),
      TextAnalysis.shingles(col("text"), 3).as("sh"))
    val a = withSig.filter(col("doc_id") === 0).collect().head
    val b = withSig.filter(col("doc_id") === 1000000L).collect().head
    val sigA = a.getSeq[Long](1); val sigB = b.getSeq[Long](1)
    val est = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / sigA.size
    val shA = a.getSeq[String](2).toSet; val shB = b.getSeq[String](2).toSet
    val truth = shA.intersect(shB).size.toDouble / shA.union(shB).size
    assert(math.abs(est - truth) < 0.25, s"est=$est truth=$truth")
  }

  test("simhash: planted near-dups are hamming-close, random pairs are not") {
    val sigs = planted.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val plantedH = (0L until 50L).map(i => ham(sigs(i), sigs(i + 1000000L)))
    val randomH = (0L until 49L).map(i => ham(sigs(i), sigs(i + 1)))
    assert(plantedH.count(_ <= 10) > 40, s"planted hammings: $plantedH")
    assert(randomH.count(_ > 10) > 40, s"random hammings: $randomH")
  }

  test("exact dedup keeps one representative per planted copy group") {
    val base = docs.select(col("doc_id"), col("text"))
    val copies = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val groups = Dedup.exactGroups(base.unionAll(copies), "doc_id", "text")
    val dupGroups = groups.filter(col("n_copies") === 2).count()
    assert(dupGroups == docs.filter(pmod(col("doc_id"), lit(10)) === 0).count())
    val deduped = Dedup.exactDedup(base.unionAll(copies), "doc_id", "text")
    assert(deduped.count() == base.count()) // copies removed, originals kept
    assert(deduped.filter(col("doc_id") >= 2000000L).count() == 0)
  }

  test("embedding LSH near-dup finds >=95% of planted high-cosine pairs") {
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val pert = base.select((col("vec_id") + 1000000L).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x + sin(i.cast("double")) * 0.02).as("embedding"))
    val pairs = Dedup.embeddingNearDups(base.unionAll(pert), "vec_id", "embedding",
        dim = 64, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val n = base.count()
    val found = pairs.count { case (a, b) => b == a + 1000000L }
    assert(found >= (n * 0.95).toInt, s"found $found of $n planted pairs")
  }

  test("IVF ANN recall@5 >= 0.6 vs brute force; k-means step doesn't hurt") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(iters: Int): Double = {
      val approx = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5,
          numCentroids = 16, nProbe = 4, kmeansIters = iters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val r0 = recallAt(0)
    val r1 = recallAt(1)
    assert(r1 >= 0.6, s"recall(iter=1)=$r1")
    assert(r1 >= r0 - 0.1, s"k-means step degraded recall: $r0 -> $r1")
  }

  test("brute-force knn: rank-1 neighbor has the max cosine (spot check)") {
    val q = emb.filter(col("vec_id") === 0)
    val top = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 1).collect().head
    val best = emb.filter(col("vec_id") =!= 0)
      .crossJoin(q.select(col("embedding").as("qv")))
      .select(col("vec_id"),
        Similarity.cosine(col("embedding").cast("array<double>"),
          col("qv").cast("array<double>")).as("c"))
      .orderBy(col("c").desc).limit(1).collect().head
    assert(top.getLong(1) == best.getLong(0))
  }

  test("chunked jaccard: adversarial single-block corpus == unchunked result") {
    // All docs share ONE blocking key — the round-1 straggler/OOM shape.
    // With maxBlock small enough to force m > 1 chunks, the chunk-pair
    // tasks must reproduce the single-triangle result exactly.
    val oneBlock = planted.withColumn("b", lit("all"))
    def run(maxBlock: Int) =
      Dedup.ngramJaccardNearDups(oneBlock, "doc_id", "text", col("b"),
          threshold = 0.5, maxBlock = maxBlock)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unchunked = run(1000000)
    val chunked = run(50) // sf0.001 has ~hundreds of docs → m >= 4
    assert(chunked == unchunked, s"chunked=${chunked.size} unchunked=${unchunked.size}")
    assert(unchunked.nonEmpty)
  }

  test("ngramJaccard prefix filter: threshold boundaries (0 refuses, 1 exact)") {
    val oneBlock = planted.withColumn("b", lit("all"))
    // t = 0 is unanswerable by a prefix index (every pair qualifies,
    // including zero-overlap ones) and used to read past the sorted-hash
    // array — it must refuse loudly, not crash or under-report.
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardNearDups(oneBlock, "doc_id", "text", col("b"),
        threshold = 0.0)
    }
    assert(e.getMessage.contains("threshold"))
    // t = 1 (prefixLen = 1 for every doc) finds exactly the identical
    // shingle sets: every returned pair has jaccard == 1.0, and the planted
    // fixture's exact-duplicate pairs (same text twice) are all present.
    val atOne = Dedup.ngramJaccardNearDups(oneBlock, "doc_id", "text",
        col("b"), threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(atOne.forall(_._3 == 1.0))
    val all = Dedup.ngramJaccardNearDups(oneBlock, "doc_id", "text",
        col("b"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(atOne.toSet == all.filter(_._3 == 1.0).toSet,
      "threshold=1 must equal the jaccard==1 slice of a lower-threshold run")
  }

  test("dupClusters: chains, stars and disjoint pairs resolve to min-id labels") {
    import spark.implicits._
    // components: chain 1-2-3-4, star 10-{11,12,13}, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = graft.ops.Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L))
    // a longer chain still converges within maxIter (diameter 8)
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val gotChain = graft.ops.Dedup.dupClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotChain.values.forall(_ == 0L) && gotChain.size == 9)
    // one MATERIALIZATION job per round: the convergence probe rides the
    // round's localCheckpoint (an accumulator), it is not a second
    // count() job. AQE is disabled for the audit so a checkpoint is
    // exactly one job (AQE splits one into a job per shuffle stage).
    // Fixture: star converges in 2 rounds. Breakdown: 2 setup checkpoints
    // (sym, initial labels) + per round 1 checkpoint + 2 broadcast-
    // exchange jobs (the round's two small-side broadcasts) = 8; the old
    // probe-per-round shape measured 10.
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L)).toDF("id_a", "id_b")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setJobGroup("dupc-jobs", "dupClusters job audit", false)
    try graft.ops.Dedup.dupClusters(star)
    finally {
      spark.sparkContext.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup("dupc-jobs").length
    // Upper bound, not an exact pin: the old probe-per-round shape measured
    // 10 jobs here, the accumulator-probe shape 8. Asserting <= 8 catches a
    // regression to a second per-round job without encoding Spark's exact
    // checkpoint/broadcast job decomposition (which shifts across minors).
    assert(jobs > 0 && jobs <= 8,
      s"expected <= 8 jobs (no per-round count() probe; old shape was 10), got $jobs")
  }

  test("IVF assignment: zero-shuffle plan, equals crossJoin+window argmax") {
    val cents = emb.orderBy(col("vec_id")).limit(8)
      .select(monotonically_increasing_id().as("cid"),
        col("embedding").cast("array<double>").as("centroid"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", cents)
    // the assignment itself must be a pure map: no join, no window — the
    // only allowed Exchange is Spread.toCores' input-parallelism repartition
    // (which no-ops on real multi-split inputs)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"assignment plan has a window:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"assignment plan joins:\n$plan")
    assert(plan.split("Exchange").length - 1 <= 1, s"assignment plan shuffles:\n$plan")
    // the full ivfTopK plan must end in the bounded aggregator, not a
    // Window over the probed score matrix (the round-2 weak finding)
    val topkPlan = Similarity.ivfTopK(emb, emb.limit(5), "vec_id", "embedding",
      k = 3, numCentroids = 8, nProbe = 2, kmeansIters = 0)
      .queryExecution.executedPlan.toString
    assert(!topkPlan.contains("Window"), s"ivfTopK still uses a window:\n$topkPlan")
    // value parity with the round-1 window formulation
    val c = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("d").desc, col("cid"))
    val expected = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        Similarity.cosine(col("cv"), col("centroid")).as("d"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val actual = assigned.select(col("vec_id"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(actual == expected)
  }

  test("HyperplaneSig band keys equal the zip_with+aggregate formulation") {
    val rnd = new scala.util.Random(7L)
    val planes = Array.fill(12)(Array.fill(64)(rnd.nextGaussian()))
    val v = col("embedding").cast("array<double>")
    val viaExpr = emb.select(col("vec_id"),
        graft.functions.sketches.hyperplane_sig(v, planes, 6).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def planeBit(p: Int, shift: Int) = {
      val dot = aggregate(
        zip_with(v, array(planes(p).map(lit).toIndexedSeq: _*), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), shift)).otherwise(lit(0L))
    }
    val viaHof = emb.select(col("vec_id"),
        array((0 until 2).map { b =>
          (0 until 6).map(i => planeBit(b * 6 + i, i))
            .reduce((x, y) => x.bitwiseOR(y))
        }: _*).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr == viaHof)
  }

  test("sequence packing: budget respected, every doc packed once, dense bins") {
    import spark.implicits._
    val in = Seq((1L, "g", 100L), (2L, "g", 100L), (3L, "g", 100L),
      (4L, "g", 999L), (5L, "g", 10L), (6L, "h", 50L))
      .toDF("id", "grp", "nt")
    val out = TextAnalysis.packSequences(in, "id", "nt", col("grp"), maxTokens = 256)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.length == 6) // every doc exactly once
    val g = out.filter(_._1 == "g").sortBy(_._2)
    // greedy: [1,2] (200), [3] (100+999 would burst -> 3 alone? no: 100 then
    // 999 bursts), oversized 999 alone, then 10 starts fresh
    assert(g.map(x => (x._2, x._4, x._5)).toSeq ==
      Seq((1L, 0L, 0L), (2L, 0L, 1L), (3L, 1L, 0L), (4L, 2L, 0L), (5L, 3L, 0L)))
    // per-bin fill <= budget unless the bin is a single oversized doc
    g.groupBy(_._4).foreach { case (_, docs) =>
      val fill = docs.map(_._3).sum
      assert(fill <= 256 || docs.length == 1, s"bin over budget: $fill")
    }
    assert(out.filter(_._1 == "h").map(x => (x._4, x._5)).toSeq == Seq((0L, 0L)))
  }

  test("text analysis values are sane and deterministic") {
    val r1 = docs.select(TextAnalysis.tokenCount(col("text")).as("t"),
      TextAnalysis.stopwordRatio(col("text")).as("sw"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("l")).collect()
    val r2 = docs.select(TextAnalysis.tokenCount(col("text")).as("t"),
      TextAnalysis.stopwordRatio(col("text")).as("sw"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("l")).collect()
    assert(r1.sameElements(r2))
    assert(r1.forall(r => r.getInt(0) > 0))
    assert(r1.forall(r => r.getDouble(1) >= 0 && r.getDouble(1) <= 1))
    assert(r1.forall(r => r.getDouble(2) >= 0 && r.getDouble(2) <= 1))
  }

  test("multimodal: real decode — all fixture media decodes, features from pixels") {
    val media = Multimodal.encodedMediaFromDocuments(docs)
    val f = Multimodal.extractFeatures(media).collect()
    assert(f.nonEmpty)
    assert(f.forall(_.decode_ok), "every generated PNG/WAV/video must decode")
    assert(f.forall(_.features.length == Multimodal.MediaCodec.FeatureDim))
    // histograms over decoded pixels/samples are L1-normalized
    assert(f.forall(x => math.abs(x.features.sum - 1.0f) < 1e-3))
    // determinism: second run bitwise-identical
    val f2 = Multimodal.extractFeatures(media).collect()
    assert(f.sortBy(_.media_id).zip(f2.sortBy(_.media_id))
      .forall { case (a, b) => a.features.sameElements(b.features) })
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaFromDocuments(docs).limit(10), frameBytes = 16, every = 2)
    val counts = frames.groupBy("media_id").count().collect()
    assert(counts.forall(_.getLong(1) > 0))
  }

  test("multimodal: known-content feature values through the real codecs") {
    import Multimodal.MediaCodec
    // Solid red 4x4 PNG: BT.601 luma of (255,0,0) = 76 → bin 76*16/256 = 4.
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) img.setRGB(x, y, 0xFF0000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (imgF, imgOk) = MediaCodec.decodeToFeatures("image", bos.toByteArray)
    assert(imgOk)
    assert(imgF(4) == 1.0f, s"expected all mass in luma bin 4, got ${imgF.toSeq}")

    // Constant-amplitude WAV at 16384 (= 0.5 full scale): bin 16384*16/32768 = 8.
    val pcm = new Array[Byte](200 * 2)
    for (i <- 0 until 200) { pcm(2 * i) = 0x00; pcm(2 * i + 1) = 0x40 } // LE 0x4000
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, 200L)
    val abos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, abos)
    val (audF, audOk) = MediaCodec.decodeToFeatures("audio", abos.toByteArray)
    assert(audOk)
    assert(audF(8) == 1.0f, s"expected all mass in amplitude bin 8, got ${audF.toSeq}")

    // Video = packed frames; features = first frame's image features.
    val packed = MediaCodec.packVideo(Seq(bos.toByteArray, bos.toByteArray))
    val (vidF, vidOk) = MediaCodec.decodeToFeatures("video", packed)
    assert(vidOk)
    assert(vidF.sameElements(imgF))
    // real per-frame sampling: every 1st frame of a 2-frame video → 2 rows
    val vmedia = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "video", packed, 4, 4)))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    assert(Multimodal.sampleVideoFrames(vmedia, every = 1).count() == 2)

    // corrupt bytes are quarantined, not thrown
    val (badF, badOk) = MediaCodec.decodeToFeatures("image", Array[Byte](1, 2, 3))
    assert(!badOk && badF.forall(_ == 0f))
  }

  test("multimodal: corrupt containers and bomb headers are quarantined, never thrown") {
    import Multimodal.MediaCodec
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val packed = MediaCodec.packVideo(Seq(png, png))

    // truncated container: frame length field survives, frame bytes don't
    for (cut <- Seq(1, 5, png.length / 2, png.length + 3)) {
      val trunc = packed.take(packed.length - cut)
      assert(MediaCodec.unpackVideo(trunc).isEmpty, s"cut=$cut must be rejected")
      assert(MediaCodec.decodeToFeatures("video", trunc) ._2 == false)
    }
    // lying length prefix: first frame claims more bytes than remain
    val lying = packed.clone()
    lying(8) = 0x7F.toByte // frame-0 length int's high byte → ~2 GB claim
    assert(MediaCodec.unpackVideo(lying).isEmpty)
    // sampleVideoFrames on a corrupt row emits zero rows, stage survives
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", packed.take(packed.length - 3), 4, 4),
      Multimodal.MediaRow(2L, "video", packed, 4, 4))
    val vmedia = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val sampled = Multimodal.sampleVideoFrames(vmedia, every = 1).collect()
    assert(sampled.length == 2 && sampled.forall(_.getLong(0) == 2L),
      "corrupt container contributes zero frames; intact one still decodes")

    // decompression bomb: patch the IHDR to declare 100000×100000 px and
    // fix its CRC — header parses, but the pixel budget rejects BEFORE the
    // raster decode allocates 10 GB
    val bomb = png.clone()
    def putInt(off: Int, v: Int): Unit = {
      bomb(off) = (v >>> 24).toByte; bomb(off + 1) = (v >>> 16).toByte
      bomb(off + 2) = (v >>> 8).toByte; bomb(off + 3) = v.toByte
    }
    putInt(16, 100000); putInt(20, 100000) // IHDR width, height
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // chunk type (4) + IHDR data (13)
    putInt(29, crc.getValue.toInt)
    assert(MediaCodec.imageFeatures(bomb).isEmpty,
      "oversized declared dimensions must be rejected by the pixel budget")
    // sanity: the unpatched original still decodes
    assert(MediaCodec.imageFeatures(png).isDefined)
  }

  test("hash sampling: deterministic, near-target fraction, stratified edges") {
    import graft.ops.Sampling
    val n = docs.count().toDouble
    val s1 = Sampling.hashSample(docs, col("doc_id"), 0.25).select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(docs, col("doc_id"), 0.25).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "same seed+key must select the same rows")
    assert(math.abs(s1.size / n - 0.25) < 0.08, s"fraction off: ${s1.size / n}")
    // nested property: a 10% sample is a subset of the 25% sample (same
    // seed) — the hash-threshold design guarantee that lets pipelines
    // carve progressively smaller deterministic subsets
    val s3 = Sampling.hashSample(docs, col("doc_id"), 0.10).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1), "smaller fraction must nest inside larger")
    // stratified: fraction 1.0 keeps ALL of the stratum, 0.0 none
    val strat = Sampling.stratifiedSample(docs, col("source"), col("doc_id"),
      Map("src0" -> 1.0, "src1" -> 0.0), defaultFraction = 0.5)
    val bySrc = strat.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val src0Total = docs.filter(col("source") === "src0").count()
    assert(bySrc.getOrElse("src0", 0L) == src0Total, "fraction 1.0 must keep every row")
    assert(bySrc.getOrElse("src1", 0L) == 0L, "fraction 0.0 must keep none")
  }

  test("capPerGroup: caps at N, passes small groups through, deterministic") {
    import graft.ops.Sampling
    val capped = Sampling.capPerGroup(docs, col("source"), col("doc_id"), maxRows = 10)
    val perGroup = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGroup.values.forall(_ <= 10))
    // a group smaller than the cap survives intact
    val small = docs.filter(col("doc_id") < 3) // < 10 docs, various sources
    val smallCapped = Sampling.capPerGroup(small, col("source"), col("doc_id"), 10)
    assert(smallCapped.count() == small.count())
    // deterministic: same kept set on re-evaluation
    val ids1 = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.capPerGroup(docs, col("source"), col("doc_id"), 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("filtered ANN: predicate restricts the candidate set, pushes to the scan, no retraining") {
    val tmp = java.nio.file.Files.createTempDirectory("annfilter").toString
    // the fixture's real metadata column rides into the assigned table
    Similarity.saveIvfIndex(emb, "vec_id", "embedding", s"$tmp/ivf",
      numCentroids = 8, kmeansIters = 1, numFiles = 4, metaCols = Seq("label"))
    val idx = Similarity.loadIvfIndex(spark, s"$tmp/ivf")
    val target = emb.filter(col("label") === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // probe with shifted ids so the self-exclusion guard never fires
    val probe = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val hits = Similarity.ivfTopKWithIndexWhere(idx, probe,
      "vec_id", "embedding", k = 5, pred = col("label") === 2, nProbe = 3)
    val rows = hits.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, v, _) => target.contains(v) },
      "filtered search returned a vector outside the predicate subset")
    // a label-2 probe finds ITSELF at rank 1 inside the filtered subset
    val selfProbe = emb.filter(col("label") === 2 && col("vec_id") < 100)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val self = Similarity.ivfTopKWithIndexWhere(idx, selfProbe,
        "vec_id", "embedding", k = 1, pred = col("label") === 2, nProbe = 3)
      .collect().map(r => (r.getLong(0) - 5000000L, r.getLong(1)))
    assert(self.nonEmpty && self.forall { case (q, v) => q == v })
    // the metadata predicate reaches the parquet scan beside the cid set
    val planned = Similarity.ivfTopKWithIndexWhere(idx, probe,
        "vec_id", "embedding", k = 5, pred = col("label") === 2, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(planned.contains("EqualTo(label,2)"),
      s"label predicate not pushed to the index scan:\n$planned")
    // lit(true) degenerates to the unfiltered probe (delegation identity)
    val unf = Similarity.ivfTopKWithIndex(idx, probe,
      "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val where = Similarity.ivfTopKWithIndexWhere(idx, probe,
      "vec_id", "embedding", k = 5, pred = lit(true), nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(unf == where)
  }

  test("meanPoolEmbeddings: hand-computed means, unit norm, zero-vector safety") {
    import spark.implicits._
    val chunks = Seq(
      (1L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(3.0f, 4.0f)),
      (3L, Seq(0.0f, 0.0f)) // zero group: normalization must not NaN
    ).toDF("g", "embedding")
    val out = Similarity.meanPoolEmbeddings(chunks, "g", "embedding")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Double](2)))).toMap
    val inv = 1.0 / math.sqrt(2.0)
    assert(out(1L)._1 == 2L)
    assert(out(1L)._2.zip(Seq(inv, inv)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out(2L)._2.zip(Seq(0.6, 0.8)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(out(3L)._2 == Seq(0.0, 0.0))
    // normalize=false returns the raw mean
    val raw = Similarity.meanPoolEmbeddings(chunks, "g", "embedding",
        normalize = false)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](2))).toMap
    assert(raw(1L) == Seq(0.5, 0.5) && raw(2L) == Seq(3.0, 4.0))
    // real corpus: every pooled vector is unit-length, dim preserved
    val pooled = Similarity.meanPoolEmbeddings(
      emb.select((col("vec_id") % 50).as("g"), col("embedding")),
      "g", "embedding").collect()
    assert(pooled.length == 50)
    assert(pooled.forall { r =>
      val v = r.getSeq[Double](2)
      v.length == 64 && math.abs(v.map(x => x * x).sum - 1.0) < 1e-9
    })
  }

  test("tokenBudgetMix: hash-order admission, overshoot <= 1 doc, bucketed == naive window") {
    import graft.ops.Sampling
    val corpus = docs.select(col("doc_id"), col("source"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val budgets = Map("src0" -> 300L, "src1" -> 100000L, "src2" -> 1L)
    val out = Sampling.tokenBudgetMix(corpus, col("source"), col("doc_id"),
        col("n_tok"), budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // strata without a budget contribute nothing
    assert(out.map(_._2).toSet == Set("src0", "src1", "src2"))
    // oversized budget admits the whole stratum
    assert(out.count(_._2 == "src1") == corpus.filter(col("source") === "src1").count())
    // a 1-token budget admits exactly the first doc in hash order
    assert(out.count(_._2 == "src2") == 1)
    // src0: every kept doc was admitted under budget, and the kept set
    // SATURATES it (tokens kept + next doc would cross 300)
    val src0 = out.filter(_._2 == "src0")
    assert(src0.forall(_._4 < 300L))
    assert(src0.map(_._3).sum >= 300L, "budget not saturated")
    // the scalable two-level prefix sum is bit-identical to the naive
    // one-task-per-stratum window it replaces
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(concat(lit("s0"), col("doc_id").cast("string"))), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val budgetExpr = when(col("source") === "src0", 300L)
      .when(col("source") === "src1", 100000L)
      .when(col("source") === "src2", 1L).otherwise(0L)
    val naive = corpus
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .filter(budgetExpr > 0L && col("cum_before") < budgetExpr)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == naive.toSet)
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetMix(corpus.withColumn("__h", lit(1)), col("source"),
        col("doc_id"), col("n_tok"), budgets)
    }
  }

  test("keepBestPerCluster: highest score wins, ties break to min id, singletons kept") {
    import spark.implicits._
    val corpus = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), // chain 1-2-3: doc 2 scores best
      (4L, 7L), (5L, 7L),              // pair with tied scores -> min id 4
      (6L, 1L)                         // singleton
    ).toDF("id", "s")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerCluster(corpus, pairs, "id", col("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(3)))).toMap
    assert(out == Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      4L -> ((4L, true)), 5L -> ((4L, false)),
      6L -> ((6L, true))))
    // exactly one keeper per cluster, every input id labeled
    val keeps = out.values.groupBy(_._1).map { case (c, vs) =>
      (c, vs.count(_._2)) }
    assert(keeps.values.forall(_ == 1))
  }

  test("cross-doc line dedup: boilerplate drops, intra-doc repeats survive, order kept") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "COOKIE\nalpha one\nalpha one\nbody of doc one"),
      (2L, "COOKIE\nbody of doc two\nFOOTER"),
      (3L, "FOOTER\nbody of doc three\nCOOKIE"),
      (4L, "COOKIE\nFOOTER") // every line boilerplate -> empty survivor
    ).toDF("id", "t")
    val out = Dedup.dedupLinesAcross(fixture, "id", "t", minDocs = 2)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // COOKIE spans docs 1-4 and FOOTER docs 2-4 — both cross the >=2
    // threshold; "alpha one" repeats twice WITHIN doc 1 only -> kept twice
    assert(out(1L) == ((4L, 3L, "alpha one\nalpha one\nbody of doc one")))
    assert(out(2L) == ((3L, 1L, "body of doc two")))
    assert(out(3L) == ((3L, 1L, "body of doc three")))
    assert(out(4L) == ((2L, 0L, "")))
    // threshold boundary: at minDocs=4, COOKIE (4 docs, == threshold)
    // still drops but FOOTER (3 docs, below it) now survives
    val loose = Dedup.dedupLinesAcross(fixture, "id", "t", minDocs = 4)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(loose(2L) == "body of doc two\nFOOTER")
    assert(loose(3L) == "FOOTER\nbody of doc three")
    assert(loose(4L) == "FOOTER")
    // portable-hash gate family and production xxhash64 family agree
    val portable = Dedup.dedupLinesAcross(fixture, "id", "t", minDocs = 2,
        lineKey = HashFamily.Portable60)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(portable == out.map { case (k, v) => (k, v._3) })
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesAcross(fixture, "id", "t", minDocs = 1)
    }
  }

  test("ANN index persistence: save/load round-trips, probes identical, scan prunes by cid") {
    val tmp = java.nio.file.Files.createTempDirectory("annidx").toString
    val queries = emb.filter(col("vec_id") < 10)
    // IVF: persisted probe == in-memory probe (same deterministic training)
    Similarity.saveIvfIndex(emb, "vec_id", "embedding", s"$tmp/ivf",
      numCentroids = 8, kmeansIters = 1, numFiles = 4)
    val ivfIdx = Similarity.loadIvfIndex(spark, s"$tmp/ivf")
    val fromIndex = Similarity.ivfTopKWithIndex(ivfIdx, queries,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, numCentroids = 8, nProbe = 2, kmeansIters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex == direct, "persisted IVF probe must equal the in-memory path")
    // the probed-cid filter reaches the clustered parquet scan as a
    // pushed-down predicate (file skipping at scale)
    val planned = Similarity.ivfTopKWithIndex(ivfIdx, queries,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters: [In(cid") ||
      planned.contains("PushedFilters: [IsNotNull(cid), In(cid"),
      s"cid filter not pushed to the index scan:\n$planned")
    // PQ: persisted probe == in-memory path
    Similarity.savePqIndex(emb, "vec_id", "embedding", s"$tmp/pq",
      dim = 64, m = 8, ksub = 16, trainFraction = 0.5)
    val pqIdx = Similarity.loadPqIndex(spark, s"$tmp/pq")
    assert(pqIdx.codebooks.length == 8 && pqIdx.codebooks(0).length == 16)
    val pqFromIndex = Similarity.pqTopKWithIndex(pqIdx, queries,
      "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pqDirect = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 5, dim = 64, m = 8, ksub = 16, trainFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pqFromIndex == pqDirect, "persisted PQ probe must equal the in-memory path")
  }

  test("capPerGroup two-phase: adversarial single group == plain window; skew stays off one task") {
    import graft.ops.Sampling
    // one group = the whole corpus, spread over many partitions
    val oneGroup = docs.repartition(16).withColumn("g", lit("all"))
    val twoPhase = Sampling.capPerGroup(oneGroup, col("g"), col("doc_id"), 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twoPhase.size == 7)
    // plain-window formulation (the cap above PrePassMaxRows takes this path)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(md5(concat(lit("s0"), col("doc_id").cast("string"))), col("doc_id"))
    val plain = oneGroup.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(twoPhase == plain, s"two-phase $twoPhase != window $plain")
    // the pre-pass is in the plan for small caps and absent above the bound
    val smallPlan = Sampling.capPerGroup(oneGroup, col("g"), col("doc_id"), 7)
      .queryExecution.executedPlan.toString
    assert(smallPlan.contains("MapPartitions"), s"no pre-pass in:\n$smallPlan")
    val bigPlan = Sampling.capPerGroup(oneGroup, col("g"), col("doc_id"),
        Sampling.PrePassMaxRows + 1)
      .queryExecution.executedPlan.toString
    assert(!bigPlan.contains("MapPartitions"), s"pre-pass should be off:\n$bigPlan")
    // null group keys survive the pre-pass map
    val withNullG = docs.withColumn("g",
      when(col("doc_id") % 2 === 0, lit(null).cast("string")).otherwise(lit("x")))
    val ng = Sampling.capPerGroup(withNullG, col("g"), col("doc_id"), 5)
    assert(ng.filter(col("g").isNull).count() == 5)
    // admission-budget overflow (high group cardinality: every group under
    // its cap, the pre-pass prunes nothing): a tiny bufferRows forces the
    // stream-through path mid-partition, and the surviving set must still
    // equal the unconstrained run's
    val manyGroups = docs.repartition(4)
      .withColumn("g", (col("doc_id") % 97).cast("string"))
    val constrained = Sampling.capPerGroup(manyGroups, col("g"), col("doc_id"),
        maxRows = 3, bufferRows = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val unconstrained = Sampling.capPerGroup(manyGroups, col("g"), col("doc_id"),
        maxRows = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(constrained == unconstrained,
      "budget-overflow path changed the surviving set")
  }

  test("SQL registration exposes nfc_normalize and strip_accents") {
    graft.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT strip_accents(nfc_normalize('café señor')) AS f").collect()
    assert(r.head.getString(0) == "cafe senor")
  }

  test("sampling keeps null-key rows at fraction 1.0; bloom sizing refuses oversize") {
    import spark.implicits._
    import graft.ops.Sampling
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("k", "v")
    assert(Sampling.hashSample(withNull, col("k"), 1.0).count() == 2,
      "NULL keys must not be silently dropped at fraction 1.0")
    intercept[IllegalArgumentException] {
      graft.functions.BloomParams.forItems(2000000000L, 0.01)
    }
    // within range: k >= 1 and bits positive multiple of 64
    val (bits, k) = graft.functions.BloomParams.forItems(1000000L, 0.01)
    assert(bits > 0 && bits % 64 == 0 && k >= 1)
  }

  test("bloom novelAgainst == exact anti join; no false negatives") {
    val hist = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    // incoming: all docs + re-id'd copies of every 5th doc (same content)
    val copies = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    val incoming = docs.unionByName(copies)
    val got = Dedup.novelAgainst(incoming, hist, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.05)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = incoming
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .join(hist.select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct(),
        Seq("fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected, "bloom-prefiltered novelty must equal the exact anti join")
    // no false negatives: every truly-historical content was filtered out
    assert(!got.exists(id => id % 2 == 0 && id < 5000000L))

    // sharded (4 shards forced, tiny per-shard filters): byte-identical answer
    val sharded = Dedup.shardedNovelAgainst(incoming, hist, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.05, shards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sharded == expected, "sharded bloom must equal the exact anti join")

    // past-broadcast escape hatches produce the identical keep set:
    // (a) partitioned probe — bitsets in storage, tasks load one shard each
    val dir = java.nio.file.Files.createTempDirectory("bloom-part").toString
    val partitioned = Dedup.partitionedNovelAgainst(incoming, hist, "doc_id",
        "text", expectedItems = 1000L, fpp = 0.05, shards = 4, dir = dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(partitioned == expected,
      "partitioned-probe bloom must equal the exact anti join")
    // (b) exact fallback (no filter at all)
    val exact = Dedup.exactNovelAgainst(incoming, hist, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == expected)
    // (c) auto-routing: a 1-bit broadcast budget forces the escape hatch;
    // with a scratch dir the answer is unchanged
    val routed = Dedup.novelAgainst(incoming, hist, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.05, maxBroadcastTotalBits = 1L,
        scratchDir = Some(dir))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(routed == expected)
    val routedExact = Dedup.novelAgainst(incoming, hist, "doc_id", "text",
        expectedItems = 1000L, fpp = 0.05, maxBroadcastTotalBits = 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(routedExact == expected)
  }

  test("bloom sharding: sizing passes beyond the single-filter cap; routing consistent") {
    import graft.functions.BloomParams
    // 5e9 items @1% would need ~48e9 bits — refused unsharded, sized sharded
    intercept[IllegalArgumentException] { BloomParams.forItems(5000000000L, 0.01) }
    val shards = BloomParams.shardsFor(5000000000L, 0.01)
    assert(shards > 1, s"expected multiple shards, got $shards")
    val perShard = (5000000000L + shards - 1) / shards
    val (bits, k) = BloomParams.forItems(perShard, fpp = 0.01) // must not throw
    assert(bits > 0 && k >= 1)
    // anything a single filter handles stays single-shard
    assert(BloomParams.shardsFor(1000000L, 0.01) == 1)
    // codegen'd shard_of column equals the Scala routing the probe uses
    val hs = spark.range(0, 1000)
      .select(xxhash64(col("id")).as("h"))
      .withColumn("s", graft.functions.bloom.shard_of(col("h"), 7))
      .collect()
    assert(hs.forall(r => r.getInt(1) == BloomParams.shardOf(r.getLong(0), 7)))
    // boundary sweep: the build sizes each filter from ceil(items/shards),
    // which needs slightly more bits than totalBits/shards — shardsFor must
    // return a count whose per-shard sizing actually passes forItems, even
    // when total bits land within a hair of shards×cap
    val cap = Int.MaxValue.toLong - 63
    for (fpp <- Seq(0.01, 0.001); mult <- 1L to 4L; delta <- -2L to 2L) {
      // items that need almost exactly mult×cap bits
      val itemsAtCap = (cap * math.log(2.0) * math.log(2.0) / -math.log(fpp)).toLong
      val items = mult * itemsAtCap + delta
      val s = BloomParams.shardsFor(items, fpp)
      val per = (items + s - 1) / s
      BloomParams.forItems(per, fpp) // must not throw for ANY boundary value
    }
  }

  test("semantic dedup: cluster blocking recalls planted pairs, chunk split is identity") {
    import org.apache.spark.sql.types.DoubleType
    val base = emb.select(col("vec_id"),
      col("embedding").cast(org.apache.spark.sql.types.ArrayType(DoubleType)).as("embedding"))
    val pert = base.select((col("vec_id") + 1000000L).as("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, i) => x + sin(i.cast("double")) * 0.02).as("embedding"))
    val all = base.unionAll(pert)
    val n = base.count()
    val pairs = Dedup.semanticNearDups(all, "vec_id", "embedding",
      numClusters = 16, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // planted copies are cosine ~0.999 → must co-cluster and be found
    val found = pairs.count { case (a, b, _) => b == a + 1000000L }
    assert(found >= (n * 0.95).toInt, s"found only $found of $n planted pairs")
    assert(pairs.forall(_._3 >= 0.95), "no pair below threshold may be emitted")
    // chunk-pair split must not change the answer: tiny maxBlock forces
    // multi-chunk tasks; pair set must be identical to the unsplit run
    val split = Dedup.semanticNearDups(all, "vec_id", "embedding",
      numClusters = 16, threshold = 0.95, maxBlock = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(split == pairs.map(p => (p._1, p._2)).toSet,
      "chunked pair coverage must be exact")
  }

  test("z-order layout: per-file spans narrow on BOTH dimensions, rows survive") {
    import graft.ops.Layout
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val zPath = "target/layout-test/zorder"
    val cPath = "target/layout-test/clustered"
    Layout.writeZOrdered(li, zPath, Seq(col("l_orderkey"), col("l_partkey")), numFiles = 8)
    Layout.writeClustered(li, cPath, Seq(col("l_orderkey")), numFiles = 8)
    // correctness: the z-ordered copy is the same multiset
    val a = spark.read.parquet(zPath).agg(count(lit(1)), sum(col("l_quantity")),
      sum(col("l_orderkey")), sum(col("l_partkey"))).head()
    val b = li.agg(count(lit(1)), sum(col("l_quantity")),
      sum(col("l_orderkey")), sum(col("l_partkey"))).head()
    assert(a == b, "z-ordered write must preserve every row")

    def meanSpanFrac(path: String, dim: String): Double = {
      val global = spark.read.parquet(path)
        .agg(min(col(dim)).cast("double"), max(col(dim)).cast("double")).head()
      val span = global.getDouble(1) - global.getDouble(0)
      val files = Layout.fileRanges(spark, path, dim)
        .select((col("hi").cast("double") - col("lo").cast("double")) / span)
        .collect().map(_.getDouble(0))
      files.sum / files.length
    }
    // single-column clustering: dim1 narrow, dim2 ~full-range per file
    assert(meanSpanFrac(cPath, "l_orderkey") < 0.35)
    assert(meanSpanFrac(cPath, "l_partkey") > 0.7,
      "single-col clustering should NOT narrow the second dimension")
    // z-order: BOTH dims substantially narrowed vs the clustered layout's
    // second dimension — the multi-dimensional skipping claim
    assert(meanSpanFrac(zPath, "l_orderkey") < 0.7)
    assert(meanSpanFrac(zPath, "l_partkey") < 0.7,
      s"z-order must narrow dim2 (got ${meanSpanFrac(zPath, "l_partkey")})")
  }

  test("dup span coverage plan: bucket groupBy reuses the window's partitioning") {
    // The round-6 rework's claim: the lag() window shuffles dupPos once on
    // (id, bucket) and the bucket-level HashAggregate consumes the window
    // output WITHOUT a second Exchange. Walk the physical tree: from each
    // aggregate, descend; if a Window lies below it, no shuffle may sit on
    // the path (AQE keeps the property — assert on the pre-AQE sparkPlan
    // for a deterministic tree).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val stats = Dedup.dupSpanStatsImpl(planted, "doc_id", "text", n = 3,
      checkpoint = false)
    val plan = stats.queryExecution.sparkPlan
    def pathToWindow(p: SparkPlan, sawExchange: Boolean): Option[Boolean] =
      p match {
        case _: WindowExec => Some(sawExchange)
        case e: ShuffleExchangeLike =>
          e.children.flatMap(pathToWindow(_, sawExchange = true)).headOption
        case other =>
          other.children.flatMap(pathToWindow(_, sawExchange)).headOption
      }
    val aggsOverWindow = plan.collect {
      case a: BaseAggregateExec => pathToWindow(a, sawExchange = false)
    }.flatten
    assert(aggsOverWindow.nonEmpty, "expected an aggregate above the span window")
    assert(aggsOverWindow.contains(false),
      "no aggregate consumes the window's (id, bucket) partitioning directly " +
        "— the fused-shuffle property regressed")
  }

  test("dup span coverage: planted near-full duplicates score high, unique docs zero") {
    val stats = Dedup.dupSpanStats(planted, "doc_id", "text", n = 3)
    val byId = stats.collect().map(r => r.getLong(0) ->
      (r.getLong(3), r.getDouble(5))).toMap
    // perturbed copies share all but the tail 3-gram positions with their
    // base doc → base docs should be near-fully covered
    val baseCov = byId.filter(_._1 < 1000000L).values.map(_._2)
    assert(baseCov.count(_ > 0.8).toDouble / baseCov.size > 0.9,
      "base docs with planted near-copies must be mostly covered")
    // coverage is a ratio in [0, 1]
    assert(byId.values.forall { case (_, c) => c >= 0.0 && c <= 1.0 })
  }

  test("sf1 generation: stride guard passes on valid fixtures and produces 10x tables") {
    val out = java.nio.file.Files.createTempDirectory("graft-sf1-test").toString
    val genSec = graft.tools.ScaleProbe.ensureSf1(spark, sf, out)
    assert(genSec > 0.0, "fresh dir must generate, not hit the cache")
    val baseDocs = docs.count()
    assert(spark.read.parquet(s"$out/documents.parquet").count() == baseDocs * 10)
    // cross-replica contamination guard: doc_ids unique after offsetting
    val ids = spark.read.parquet(s"$out/documents.parquet")
      .select(col("doc_id")).distinct().count()
    assert(ids == baseDocs * 10, "replica ID offsets must not collide")
    // second call hits the versioned cache
    assert(graft.tools.ScaleProbe.ensureSf1(spark, sf, out) == 0.0)
  }

  test("portable PQ codebook: driver-side md5 matches Spark's md5 expression") {
    // q107's oracle assumes MessageDigest("MD5") + %02x formatting equals
    // the md5() both engines expose; cross-check against Spark's for a
    // sample of (j, c, i) cells, including the exact [-1,1) mapping.
    import spark.implicits._
    val cells = for (j <- Seq(0, 7); c <- Seq(0, 15); i <- Seq(0, 7))
      yield (j, c, i)
    val viaSpark = cells.toDF("j", "c", "i")
      .select(col("j"), col("c"), col("i"),
        (conv(substring(md5(concat(lit("pq"), col("j"), lit("_"), col("c"),
            lit("_"), col("i"))), 1, 15), 16, 10).cast("long") /
          lit(576460752303423488.0) - 1.0).as("w"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    cells.foreach { case (j, c, i) =>
      assert(graft.queries.OpsQueries.portablePqCodebooks(j)(c)(i) == viaSpark((j, c, i)),
        s"codebook cell ($j,$c,$i) differs from Spark md5")
    }
  }

  test("IVF-PQ self-recovery: every probed corpus vector finds itself at rank 1") {
    val corpus = emb
    val probe = corpus.filter(col("vec_id") < 20)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val got = Similarity.ivfPqTopK(corpus, probe, "vec_id", "embedding",
        k = 1, dim = 64, numCentroids = 16, nProbe = 1, m = 8, ksub = 16,
        trainFraction = 0.25, refine = 8)
      .collect().map(r => r.getLong(0) - 5000000L -> r.getLong(1)).toMap
    assert(got.size == 20 && got.forall { case (q, v) => q == v },
      s"self-recovery failed for ${got.filter { case (q, v) => q != v }}")
  }

  test("int8 quantization: codes in range, reconstruction within one step") {
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = q.join(
      emb.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v")), Seq("id"))
    val rows = joined.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mn = r.getDouble(1); val mx = r.getDouble(2)
      val codes = r.getSeq[Long](3)
      val v = r.getSeq[Double](4)
      assert(codes.forall(c => c >= 0 && c <= 255))
      val step = (mx - mn) / 255.0
      codes.zip(v).foreach { case (c, x) =>
        val recon = mn + c * step
        assert(math.abs(x - recon) <= step + 1e-12,
          s"reconstruction out of range: x=$x recon=$recon step=$step")
      }
    }
    // constant vector → all-zero codes, not NaN
    import spark.implicits._
    val const = Seq((1L, Array(2.5, 2.5, 2.5))).toDF("vec_id", "embedding")
    val qc = Similarity.quantizeInt8(const, "vec_id", "embedding").collect().head
    assert(qc.getSeq[Long](3).forall(_ == 0L))
  }

  test("PQ encode plan: per-row expressions only, no Exchange before the scan") {
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, trainFraction = 0.5)
    val plan = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .queryExecution.executedPlan.toString
    // encoding is scan → project (normalize + pq_encode); the only
    // permissible Exchange is Spread.toCores' parallelism spread —
    // no aggregation/window/join may appear
    assert(!plan.contains("Window") && !plan.contains("Join"),
      s"PQ encode plan grew non-per-row operators:\n$plan")
  }

  test("PQ ANN: codes valid, recall@20-vs-top5 beats chance, encode deterministic") {
    val queries = emb.filter(col("vec_id") < 10)
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding", dim = 64, m = 8, ksub = 16)
    assert(cb.length == 8 && cb.forall(_.length == 16) && cb.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
    val c1 = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1.values.forall(_.forall(c => c >= 0 && c < 16)))
    // deterministic: re-encoding yields identical codes
    val c2 = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(c1 == c2)
    // recall: the exact top-5 neighbors should mostly appear in PQ's top-20
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 20, dim = 64, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@20 over exact top-5 too low: $recall")
    // hash-sampled training must still produce a working index
    val pqSampled = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
        k = 20, dim = 64, m = 8, ksub = 16, trainFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallSampled = exact.count(pqSampled.contains).toDouble / exact.size
    assert(recallSampled >= 0.4, s"sampled-training PQ recall too low: $recallSampled")
  }

  test("IVF-PQ ANN: residual codes recall, refine recovers rank, index round-trips") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ADC-only top-20 should catch most exact top-5 despite probing 4/16 cells
    val adc = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 20, dim = 64, numCentroids = 16, nProbe = 4, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAdc = exact.count(adc.contains).toDouble / exact.size
    assert(recallAdc >= 0.5, s"IVF-PQ ADC recall@20 over exact top-5 too low: $recallAdc")
    // exact refine of 4k candidates at k=5: recall must not degrade vs ADC@20
    // (refine re-ranks the same candidate pool with true cosine)
    val refined = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        k = 5, dim = 64, numCentroids = 16, nProbe = 4, m = 8, ksub = 16,
        refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallRefined = exact.count(refined.contains).toDouble / exact.size
    assert(recallRefined >= 0.5, s"refined IVF-PQ recall@5 too low: $recallRefined")
    // persisted index: probe equals the in-memory path (same deterministic
    // training), and the probed-cid filter is pushed to the codes scan
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq").toString
    Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", s"$tmp/idx",
      dim = 64, numCentroids = 16, m = 8, ksub = 16, trainFraction = 0.5,
      numFiles = 4)
    val idx = Similarity.loadIvfPqIndex(spark, s"$tmp/idx")
    assert(idx.codebooks.length == 8 && idx.codebooks(0).length == 16)
    val fromIndex = Similarity.ivfPqTopKWithIndex(idx, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, dim = 64, numCentroids = 16, nProbe = 4, m = 8, ksub = 16,
      trainFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex == direct, "persisted IVF-PQ probe must equal the in-memory path")
    val planned = Similarity.ivfPqTopKWithIndex(idx, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters: [In(cid") ||
      planned.contains("PushedFilters: [IsNotNull(cid), In(cid"),
      s"cid filter not pushed to the IVF-PQ codes scan:\n$planned")
  }

  test("image dHash: brightness-invariant, corrupt-safe, recovers planted twins") {
    import graft.ops.Multimodal.MediaCodec
    // +8/channel shifts integer luma by exactly 8 (weights sum to 1000), so
    // every grid comparison — and hence the hash — is identical
    val seed = "the quick brown fox jumps over the lazy dog".getBytes("UTF-8")
    val a = MediaCodec.dHash(MediaCodec.encodePng(seed, 24, 16)).get
    val b = MediaCodec.dHash(MediaCodec.encodePng(seed, 24, 16, bias = 8)).get
    assert(a == b, f"brightness shift changed dHash: $a%016x -> $b%016x")
    // a different render is a different hash (hamming far beyond 3)
    val other = MediaCodec.dHash(MediaCodec.encodePng(
      "completely different pixel source material here".getBytes("UTF-8"), 24, 16)).get
    assert(java.lang.Long.bitCount(a ^ other) > 3)
    // corrupt / empty / sub-grid bytes: None, never a throw
    assert(MediaCodec.dHash("not a png".getBytes("UTF-8")).isEmpty)
    assert(MediaCodec.dHash(Array.emptyByteArray).isEmpty)
    assert(MediaCodec.dHash(MediaCodec.encodePng(seed, 4, 4)).isEmpty)
    // corpus-level: every planted brightness-twin pair is recovered by the
    // banded hamming join at distance 0
    val subset = docs.filter(col("doc_id") < 60)
    val base = Multimodal.encodedMediaFromDocuments(subset)
    val shifted = Multimodal.encodedMediaFromDocuments(subset, bias = 8,
      idOffset = 1000000L)
    val pairs = Multimodal.nearDupImages(base.union(shifted), maxHamming = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number]("hamming").longValue))
    val imageIds = subset.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(imageIds.nonEmpty)
    imageIds.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 1000000L && p._3 == 0),
        s"planted brightness twin for image $id not recovered")
    }
  }

  test("BM25 retrieval: hand-computed scores, rank order, partition-invariant") {
    import graft.ops.Retrieval
    import spark.implicits._
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry date fig")).toDF("doc_id", "text")
    val q = Seq((0L, "apple cherry")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(corpus, "doc_id", "text", q, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._2)
    // reference BM25 computed longhand (N=3, avgdl=8/3, k1=1.2, b=0.75)
    val n = 3.0; val avgdl = 8.0 / 3.0; val k1 = 1.2; val b = 0.75
    def idf(df: Long) = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    def term(tf: Double, dl: Double, df: Long) =
      idf(df) * tf * (k1 + 1) / (tf + k1 * ((1 - b) + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = Seq(
      (1L, r6(term(2, 3, 1))),                  // apple tf=2 in doc 1
      (2L, r6(term(1, 2, 2))),                  // cherry tf=1 in doc 2
      (3L, r6(term(1, 3, 2))))                  // cherry tf=1 in doc 3
      .sortBy(-_._2).zipWithIndex
      .map { case ((id, s), i) => (id, (i + 1).toLong, s) }
    assert(out.length == 3)
    out.zip(expected.sortBy(_._2)).foreach { case ((id, rk, s), (eid, erk, es)) =>
      assert(id == eid && rk == erk, s"rank order: got $out expected $expected")
      assert(math.abs(s - es) < 1e-9, s"doc $id score $s != $es")
    }
    // decimal accumulation ⇒ identical output under any partitioning
    val repart = Retrieval.bm25TopK(corpus.repartition(7), "doc_id", "text",
      q, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val orig = Retrieval.bm25TopK(corpus, "doc_id", "text", q, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(repart == orig, "BM25 output must not depend on partitioning")
    // a query with no corpus terms returns no rows (not nulls)
    val miss = Retrieval.bm25TopK(corpus, "doc_id", "text",
      Seq((9L, "zzz qqq")).toDF("qid", "qtext"), "qid", "qtext", k = 5)
    assert(miss.count() == 0)
    // plan shape: every join is a broadcast (term set, idf table, query
    // terms) — the corpus side must never shuffle into a sort-merge join
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text", q, "qid", "qtext", k = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"BM25 shuffled a join that must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("edit-distance join: hand fixture incl. short-string residue; exact distances") {
    import spark.implicits._
    // aaaa~aaab d1; kitten~sitting d3 (excluded at k=2); abc~abcd d1;
    // ab~xy d2 (both short, len<=k); ab~abcd d2 (short vs mid-length)
    val rows = Seq((1L, "aaaa"), (2L, "aaab"), (3L, "kitten"),
      (4L, "sitting"), (5L, "abc"), (6L, "abcd"), (7L, "ab"), (8L, "xy"))
      .toDF("id", "s")
    val got = Dedup.editDistanceNearDups(rows, "id", "s", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // full hand-checked enumeration; aaab~ab is the subtle one (2 dels)
    val expected = Set((1L, 2L, 1L), (2L, 7L, 2L), (5L, 6L, 1L),
      (5L, 7L, 1L), (6L, 7L, 2L), (7L, 8L, 2L))
    assert(got == expected, s"got $got")
  }

  test("edit-distance join equals brute force on real prefixes (recall = 1)") {
    import spark.implicits._
    // 36-char prefixes of sf0.001 docs + one-deletion twins — same shape
    // as the q119 gate; compare the blocked join to the all-pairs join.
    val base = docs.select(col("doc_id"),
      substring(trim(col("text")), 1, 36).as("nm"))
    val twins = base.filter(pmod(col("doc_id"), lit(4)) === 0)
      .withColumn("p", (col("doc_id") % 15 + 2).cast("int"))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(expr("substring(nm, 1, p - 1)"),
          expr("substring(nm, p + 1)")).as("nm"))
    val t = base.unionByName(twins).cache()
    val blocked = Dedup.editDistanceNearDups(t, "doc_id", "nm", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = t.select(col("doc_id").as("id_a"), col("nm").as("na"))
    val b = t.select(col("doc_id").as("id_b"), col("nm").as("nb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("na"), col("nb")).cast("long"))
      .filter(col("dist") <= 2)
      .select("id_a", "id_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    t.unpersist(blocking = false)
    assert(blocked == brute,
      s"missed=${(brute -- blocked).take(5)} extra=${(blocked -- brute).take(5)}")
    assert(brute.nonEmpty, "fixture produced no pairs — twins not planted?")
    // every planted twin must appear (it is at distance exactly 1)
    val plantedIds = twins.select("doc_id").as[Long].collect().toSet
    val foundTwins = blocked.collect {
      case (lo, hi, _) if hi == lo + 1000000L => hi
    }.toSet
    assert(plantedIds.subsetOf(foundTwins),
      s"planted twins missed: ${(plantedIds -- foundTwins).take(5)}")
  }

  test("edit-distance cross join: linkage finds each perturbed benchmark row") {
    import spark.implicits._
    val corpus = Seq((1L, "hello world"), (2L, "goodbye moon"),
      (3L, "hello word")).toDF("id", "s")
    val bench = Seq((100L, "hello worlds"), (200L, "goodby moon"))
      .toDF("id", "s")
    val got = Dedup.editDistanceJoin(corpus, bench, "id", "s", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hello world ~ hello worlds d1; goodbye moon ~ goodby moon d1;
    // hello word ~ hello worlds d2 excluded at k=1
    assert(got == Set((1L, 100L, 1L), (2L, 200L, 1L)), s"got $got")
  }

  test("RRF fusion: hand-computed scores, single-side docs, doc_id tie-break, k cap") {
    import graft.ops.Retrieval
    import spark.implicits._
    // lexical list: docs 10,11,12 at ranks 1,2,3; dense list: 11,13 at 1,2.
    val lex = Seq((0L, 10L, 1L), (0L, 11L, 2L), (0L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val den = Seq((0L, 11L, 1L), (0L, 13L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(lex, den, k = 10)
      .collect().map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getDouble(4), r.getLong(5)))
      .sortBy(_._5)
    def s(ranks: Long*) = ranks.map(r => 1.0 / (60 + r)).sum
    // doc 11 in both lists wins; 10,12,13 single-side; 12 vs 13: rank-3 lex
    // (1/63) beats rank-2 dense... no: 1/62 > 1/63, so 13 before 12.
    val expected = Seq(
      (11L, Some(2L), Some(1L), s(2) + s(1) - 0.0, 1L),
      (10L, Some(1L), None, s(1), 2L),
      (13L, None, Some(2L), s(2), 3L),
      (12L, Some(3L), None, s(3), 4L))
    assert(out.length == 4, s"got ${out.toSeq}")
    out.zip(expected).foreach { case ((id, lr, vr, sc, fr), (eid, elr, evr, esc, efr)) =>
      assert(id == eid && lr == elr && vr == evr && fr == efr,
        s"got ${out.toSeq}, expected $expected")
      assert(math.abs(sc - esc) < 1e-15, s"doc $id score $sc != $esc")
    }
    // exact ties (same doc sets, same ranks in each list) break by doc_id asc
    val lex2 = Seq((1L, 20L, 1L), (1L, 21L, 1L)).toDF("query_id", "doc_id", "rank")
    val den2 = spark.emptyDataFrame.select(lit(0L).as("query_id"),
      lit(0L).as("doc_id"), lit(0L).as("rank")).limit(0)
    val tied = Retrieval.rrfFuse(lex2, den2, k = 10)
      .orderBy("fused_rank").collect().map(_.getLong(1)).toSeq
    assert(tied == Seq(20L, 21L), s"tie-break by doc_id: $tied")
    // k cap: k=1 keeps only the fused winner per query
    assert(Retrieval.rrfFuse(lex, den, k = 1).count() == 1)
  }

  test("ANN index append: new batch found at rank 1, no retrain, skipping intact") {
    val tmp = java.nio.file.Files.createTempDirectory("annappend").toString
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    // IVF: build on evens, append odds against the SAVED centroids
    Similarity.saveIvfIndex(even, "vec_id", "embedding", s"$tmp/ivf",
      numCentroids = 8, kmeansIters = 1, numFiles = 4)
    Similarity.appendToIvfIndex(spark, s"$tmp/ivf", odd, "vec_id", "embedding")
    val ivfIdx = Similarity.loadIvfIndex(spark, s"$tmp/ivf")
    assert(ivfIdx.assigned.count() == emb.count(), "append lost rows")
    // a query that IS an appended (odd) vector must find itself at rank 1
    val probe = odd.limit(3).select((col("vec_id") + 5000000L).as("vec_id"),
      col("embedding"))
    val hits = Similarity.ivfTopKWithIndex(ivfIdx, probe,
        "vec_id", "embedding", k = 1, nProbe = 2)
      .collect().map(r => (r.getLong(0) - 5000000L, r.getLong(1))).toSet
    hits.foreach { case (qid, found) =>
      assert(found == qid, s"appended vector $qid not its own nearest neighbor ($found)")
    }
    // file skipping still plans over the mixed old+new file set
    val planned = Similarity.ivfTopKWithIndex(ivfIdx, probe,
      "vec_id", "embedding", k = 1, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(planned.contains("In(cid"), s"cid pushdown lost after append:\n$planned")
    // IVF-PQ: same contract through the residual-code path
    Similarity.saveIvfPqIndex(even, "vec_id", "embedding", s"$tmp/ivfpq",
      dim = 64, numCentroids = 8, m = 8, ksub = 16, numFiles = 4)
    Similarity.appendToIvfPqIndex(spark, s"$tmp/ivfpq", odd, "vec_id", "embedding")
    val pqIdx = Similarity.loadIvfPqIndex(spark, s"$tmp/ivfpq")
    assert(pqIdx.codes.count() == emb.count())
    val pqHits = Similarity.ivfPqTopKWithIndex(pqIdx, probe,
        "vec_id", "embedding", k = 1, nProbe = 2)
      .collect().map(r => (r.getLong(0) - 5000000L, r.getLong(1))).toSet
    // PQ codes are lossy: self-match must at least survive into top-1 for
    // most probes (identical residual ⇒ identical code ⇒ ADC distance 0)
    val selfFound = pqHits.count { case (qid, found) => found == qid }
    assert(selfFound >= 2, s"appended vectors not recovered via PQ codes: $pqHits")
  }

  test("compact: small-file swarm becomes few disjoint files, rows identical") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val data = docs.select(col("doc_id"), col("source"))
    // simulate an append history: 6 small unordered writes
    (0 until 6).foreach { i =>
      data.filter(pmod(col("doc_id"), lit(6)) === i)
        .repartition(3)
        .write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir)
    val beforeRows = before.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val beforeFiles = Layout.fileRanges(spark, dir, "doc_id").count()
    assert(beforeFiles > 4, s"fixture should be a small-file swarm, got $beforeFiles")
    Layout.compact(spark, dir, Seq(col("doc_id")), numFiles = 4)
    val ranges = Layout.fileRanges(spark, dir, "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length == 4, s"expected 4 files after compact: ${ranges.length}")
    ranges.sliding(2).foreach { case Array((_, hiA), (loB, _)) =>
      assert(loB > hiA, s"compacted files overlap: ${ranges.toSeq}")
    }
    val afterRows = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows == beforeRows, "compaction changed the row set")
    // no temp/old residue
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent.exists(_.contains("compact")), parent.mkString(","))
    // crash recovery: simulate death between the swap renames (all data
    // stranded at .compact.old, nothing at path) — the next compact must
    // restore and complete; trailing slash must not nest tmp inside
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".compact.old")))
    Layout.compact(spark, dir + "/", Seq(col("doc_id")), numFiles = 2)
    val healed = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(healed == beforeRows, "self-heal lost rows")
    val parent2 = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!parent2.exists(_.contains("compact")), parent2.mkString(","))
  }

  test("pageRank: cycle uniform, star concentrates, partition-invariant") {
    import graft.ops.Graph
    import spark.implicits._
    // 3-cycle: by symmetry every node's rank is identical each iteration
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val cn = Seq(0L, 1L, 2L).toDF("id")
    val pr = Graph.pageRank(cyc, cn, iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.values.toSet.size == 1, s"cycle ranks diverged: $pr")
    assert(math.abs(pr(0L) - 1.0 / 3) < 1e-6)
    // star: all leaves point at the center → center outranks leaves, and
    // the leaves (no in-links) sit exactly on the teleport base
    val star = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("src", "dst")
    val sn = Seq(0L, 1L, 2L, 3L).toDF("id")
    val sp = Graph.pageRank(star, sn, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sp(0L) > sp(1L), s"star center must outrank leaves: $sp")
    assert(sp(1L) == sp(2L) && sp(2L) == sp(3L))
    // decimal contribution sums ⇒ identical ranks under any partitioning
    val n = docs.count()
    def ranks(part: Int) = {
      val t = if (part > 0) docs.repartition(part) else docs
      val nodes = t.select(col("doc_id").as("id"))
      val edges = t.select(col("doc_id").as("src"),
          ((col("doc_id") * 7 + 1) % n).as("dst"))
        .unionAll(t.select(col("doc_id").as("src"),
          ((col("doc_id") * 13 + 3) % n).as("dst")))
        .filter(col("src") =!= col("dst"))
      Graph.pageRank(edges, nodes, iterations = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    }
    assert(ranks(0) == ranks(7), "ranks must not depend on partitioning")
  }

  test("reliable materialize mode: identical results, survives 10 iterations") {
    import graft.ops.{Graph, Materialize}
    val conf = spark.conf
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val n = docs.count()
    val nodes = docs.select(col("doc_id").as("id"))
    val edges = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 1) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    val pairs = Dedup.ngramJaccardNearDups(planted, "doc_id", "text",
      blockCol = col("source"), threshold = 0.5)
    def ranks() = Graph.pageRank(edges, nodes, iterations = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    def clusters() = Dedup.dupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def ckptFiles(): Set[String] = spark.sparkContext.getCheckpointDir.toSeq
      .flatMap(d => Option(new java.io.File(new java.net.URI(d)).list()).toSeq.flatten)
      .toSet
    val local = ranks()
    val plain = clusters()
    val filesBefore = ckptFiles()
    try {
      conf.set(Materialize.ModeKey, "reliable")
      conf.set(Materialize.DirKey, ckpt)
      // durable pins must be a pure durability change: results
      // bit-identical to the localCheckpoint run, through both loops
      assert(ranks() == local, "reliable mode changed pageRank results")
      assert(clusters() == plain, "reliable mode changed dupClusters results")
    } finally {
      conf.set(Materialize.ModeKey, "local")
      conf.unset(Materialize.DirKey)
    }
    // and checkpoint files were actually written to the reliable dir
    assert((ckptFiles() -- filesBefore).nonEmpty, "no reliable checkpoint written")
  }

  test("IVF index hygiene: compact after appends restores few files, probes intact") {
    import graft.ops.Layout
    val tmp = java.nio.file.Files.createTempDirectory("annhygiene").toString
    val base = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
    Similarity.saveIvfIndex(base, "vec_id", "embedding", s"$tmp/ivf",
      numCentroids = 8, kmeansIters = 1, numFiles = 4)
    // 3 appended batches × 4 files each: the small-file swarm a streaming
    // ingest accumulates
    (1 to 3).foreach { r =>
      Similarity.appendToIvfIndex(spark, s"$tmp/ivf",
        emb.filter(pmod(col("vec_id"), lit(4)) === r), "vec_id", "embedding")
    }
    def dataFiles() = new java.io.File(s"$tmp/ivf/assigned").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = dataFiles()
    assert(before >= 12, s"fixture should be a small-file swarm, got $before")
    val probe = emb.limit(3).select((col("vec_id") + 5000000L).as("vec_id"),
      col("embedding"))
    def probeHits() = Similarity.ivfTopKWithIndex(
        Similarity.loadIvfIndex(spark, s"$tmp/ivf"), probe,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hitsBefore = probeHits()
    // maintenance pass: re-cluster the assigned table by cid
    Layout.compact(spark, s"$tmp/ivf/assigned", Seq(col("cid")), numFiles = 4)
    assert(dataFiles() == 4, s"compact left ${dataFiles()} files")
    assert(probeHits() == hitsBefore, "compaction changed probe results")
    // cid pushdown still prunes over the compacted layout
    val planned = Similarity.ivfTopKWithIndex(
        Similarity.loadIvfIndex(spark, s"$tmp/ivf"), probe,
        "vec_id", "embedding", k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(planned.contains("In(cid"), s"cid pushdown lost after compact:\n$planned")
  }

  test("salted join: output equals plain join, hot key spreads, salt in join keys") {
    import graft.ops.Skew
    import spark.implicits._
    // skewed left: 1500 of 2000 rows share key 1
    val left = spark.range(0, 2000).select(
      when(col("id") < 1500, 1L).otherwise(col("id")).as("k"), col("id").as("v"))
    val right = Seq((1L, "hot"), (1700L, "a"), (1800L, "b"), (9999L, "miss"))
      .toDF("k", "name")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).sorted.toSeq
    val plainInner = rows(left.join(right, Seq("k")))
    val saltedInner = rows(Skew.saltedJoin(left, right, Seq("k"), salts = 8,
      forceSalt = true))
    assert(saltedInner == plainInner, "salted inner join diverged from plain join")
    val plainLeft = rows(left.join(right, Seq("k"), "left"))
    val saltedLeft = rows(Skew.saltedJoin(left, right, Seq("k"), 8, "left",
      forceSalt = true))
    assert(saltedLeft == plainLeft, "salted left join diverged from plain join")
    // the hot key's rows actually land in multiple salt partitions (same
    // salt expression as the implementation: row-hash mod salts)
    val spread = left.filter(col("k") === 1)
      .select(pmod(xxhash64(struct(col("k"), col("v"))), lit(8L)).cast("int").as("s"))
      .distinct().count()
    assert(spread > 1, "hot-key rows all landed on one salt")
    val plan = Skew.saltedJoin(left, right, Seq("k"), 8, forceSalt = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__graft_salt"), s"salt not in the join keys:\n$plan")
    // the salted path must join in the SHUFFLE regime: broadcasting the
    // replicated side rebuilds the salts× table on the driver and every
    // executor (measured round 8: 15.1 s vs 1.7 s at sf1, DESIGN §14)
    assert(!plan.contains("BroadcastHashJoin"),
      s"salted join must not broadcast the replicated side:\n$plan")
    // ADAPTIVE bypass: a broadcast-able right side means no hot shuffle
    // partition exists to split — the operator returns the plain join
    val adaptive = Skew.saltedJoin(left, right, Seq("k"), 8)
      .queryExecution.executedPlan.toString
    assert(!adaptive.contains("__graft_salt"),
      s"tiny right side should bypass salting entirely:\n$adaptive")
  }

  test("bucketed tables: co-located join plans zero exchanges, rows match plain join") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    Layout.writeBucketed(li, "t_bucket_li", "l_orderkey", numBuckets = 4,
      Some(s"$dir/li"))
    Layout.writeBucketed(ord, "t_bucket_ord", "o_orderkey", numBuckets = 4,
      Some(s"$dir/ord"))
    // force the shuffle-join strategy so "no Exchange" is a statement about
    // bucketing, not about a broadcast hiding the question
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = spark.table("t_bucket_li")
        .join(spark.table("t_bucket_ord"), col("l_orderkey") === col("o_orderkey"))
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // counter-case: the same join on unbucketed scans DOES exchange
      val plainPlan = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(plainPlan.contains("Exchange"))
      val a = bucketed.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
        .sorted.toSeq
      val b = li.join(ord, col("l_orderkey") === col("o_orderkey")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
        .sorted.toSeq
      assert(a == b, "bucketed join rows diverged from plain join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("layout clustering: file key-ranges are disjoint, unsorted files are not") {
    import graft.ops.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    val data = docs.select(col("doc_id"), col("source"), col("text"))
    Layout.writeClustered(data, s"$dir/clustered", Seq(col("doc_id")), numFiles = 4)
    def ranges(p: String) = Layout.fileRanges(spark, p, "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    val clustered = ranges(s"$dir/clustered")
    assert(clustered.length == 4)
    // disjoint: each file's min exceeds the previous file's max
    clustered.sliding(2).foreach { case Array((_, hiA), (loB, _)) =>
      assert(loB > hiA, s"overlapping clustered files: $clustered")
    }
    // counter-case: hash-shuffled layout makes every file span ~the domain
    data.repartition(4).write.mode("overwrite").parquet(s"$dir/unsorted")
    val unsorted = ranges(s"$dir/unsorted")
    assert(unsorted.sliding(2).exists { case Array((_, hiA), (loB, _)) => loB <= hiA },
      "expected overlapping ranges in the hash-shuffled layout")
  }

  test("Misra-Gries: guarantee holds under skew, heavyTokens exact vs groupBy") {
    import spark.implicits._
    // synthetic skew: "hot" 500x, "warm" 60x, 300 singletons; k = 10 << vocab
    val words = (Seq.fill(500)("hot") ++ Seq.fill(60)("warm") ++
      (1 to 300).map(i => s"rare$i"))
    val df = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "t")
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.functions.MisraGries(10), org.apache.spark.sql.Encoders.STRING)
    val summary = df.repartition(7) // force multi-partition partials + merges
      .select(mg(col("t"))).head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = words.size
    // every item with true freq > n/(k+1) must be present
    assert(summary.contains("hot"), s"hot (freq 500 > ${n / 11}) missing: $summary")
    assert(summary.size <= 10)
    // exact-recount composition == plain groupBy result (token > n/12)
    val got = TextAnalysis.heavyTokens(df.withColumnRenamed("t", "text"),
        "text", denom = 11, k = 11)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSet
    val expected = df.groupBy("t").count()
      .filter(col("count") * 11 > n).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSet
    assert(got == expected, s"got $got expected $expected")
    // NULL tokens are skipped, not crashed on or counted
    val withNulls = (Seq.fill(30)(Some("x")) ++ Seq.fill(10)(Option.empty[String]))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "t")
    val s2 = withNulls.repartition(3).select(mg(col("t"))).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s2 == Map("x" -> 30L), s2.toString)
    // empty/whitespace-only docs contribute no "" token
    val withBlank = df.withColumnRenamed("t", "text")
      .unionByName(Seq((9999L, "   "), (10000L, "")).toDF("id", "text"))
    val hh = TextAnalysis.heavyTokens(withBlank, "text", denom = 11, k = 11)
      .collect().map(_.getString(0)).toSet
    assert(!hh.contains(""), s"empty token leaked into $hh")
  }

  test("quality classifier: hand-computed logit, plan stays per-row, keep = logit>0") {
    import spark.implicits._
    // one-word doc: feats = [w]; logit = weight(bucket(w)) / 1e6 —
    // recompute the md5 chain by hand and compare exactly
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    def w(f: String): Long = h60("qw:" + (h60(f) % 4096)) % 2000001L - 1000000L
    val df = Seq((1L, "alpha"), (2L, "alpha beta")).toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassify(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    val e1 = w("alpha") / 1e6
    assert(out(1L)._1 == 1L && math.abs(out(1L)._2 - e1) < 1e-12, out(1L).toString)
    // two words: unigrams alpha, beta + bigram "alpha beta" → 3 feats
    val e2 = (w("alpha") + w("beta") + w("alpha beta")).toDouble / (3 * 1e6)
    assert(out(2L)._1 == 3L && math.abs(out(2L)._2 - e2) < 1e-12, out(2L).toString)
    assert(out.values.forall { case (_, l, k) => k == (l > 0) })
    // per-row scoring: no key-based shuffle in the plan (the one allowed
    // Exchange is Spread.toCores' round-robin input spreading)
    val plan = TextAnalysis.qualityClassify(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning") && !plan.contains("rangepartitioning"),
      s"classifier plan shuffles on a key:\n$plan")
  }

  test("DSIR importance weights: target-only token scores positive, balanced zero") {
    import spark.implicits._
    // 'aa' appears only in target docs, 'bb' only in source docs, 'cc' in
    // both equally. With N_t = N_s the discriminant sign is readable off
    // the counts: doc of aa's > 0, doc of bb's < 0, all-cc doc = 0.
    val df = Seq(
      (1L, "aa aa cc", true), (2L, "aa cc cc", true),
      (3L, "bb bb cc", false), (4L, "bb cc cc", false),
      (5L, "cc cc cc", false)).toDF("doc_id", "text", "tgt")
    val out = graft.ops.Sampling.importanceWeights(df, "doc_id", "text",
        col("tgt"), wordHash = HashFamily.Portable60)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(out.size == 5)
    assert(out(1L)._2 > 0 && out(1L)._3, out(1L).toString) // aa-heavy → target-like
    assert(out(3L)._2 < 0 && !out(3L)._3, out(3L).toString) // bb-heavy → source-like
    // all-cc doc, exact discriminant: N_t=6, N_s=9, cnt_t(cc)=3,
    // cnt_s(cc)=6 → per-token term 3*9 - 6*6 = -9, three tokens → -27
    assert(out(5L)._2 == 3.0 * (3 * 9 - 6 * 6), out(5L).toString)
    assert(out(1L)._1 == 3L) // n_toks counts occurrences
    // degenerate splits (no target / all target) would score everything 0
    // and silently drop the whole corpus — must refuse loudly
    for (pred <- Seq(lit(false), lit(true))) {
      val err = intercept[IllegalArgumentException] {
        graft.ops.Sampling.importanceWeights(df, "doc_id", "text", pred)
          .collect()
      }
      assert(err.getMessage.contains("importanceWeights"), err.getMessage)
    }
  }

  test("saved IVF-PQ refine probe matches the in-memory refined path") {
    val corpus = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val queries = corpus.filter(col("vec_id") < 5)
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-idx").toString
    Similarity.saveIvfPqIndex(corpus, "vec_id", "embedding", dir,
      dim = 64, numCentroids = 8, m = 8, ksub = 16, numFiles = 4)
    val viaIndex = Similarity.ivfPqTopKWithIndexRefine(
        Similarity.loadIvfPqIndex(spark, dir), corpus, queries,
        "vec_id", "embedding", k = 3, nProbe = 2, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inMemory = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        k = 3, dim = 64, numCentroids = 8, nProbe = 2, m = 8, ksub = 16,
        refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaIndex == inMemory,
      s"index path diverges: ${viaIndex.diff(inMemory)} vs ${inMemory.diff(viaIndex)}")
  }

  test("saved MinHash-LSH index: probe equals live cross pass, append equals rebuild") {
    import spark.implicits._
    val hist = docs.select(col("doc_id"), col("text"))
    val ws = split(trim(col("text")), "\\s+")
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat_ws(" ", slice(ws, lit(1), greatest(size(ws) - 3, lit(1)))).as("text"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6) / 1e6)).toSet
    val dir = java.nio.file.Files.createTempDirectory("mh-idx").toString
    Dedup.saveMinhashIndex(hist, "doc_id", "text", dir, threshold = 0.5,
      numFiles = 4)
    val idx = Dedup.loadMinhashIndex(spark, dir)
    val viaIndex = pairs(Dedup.minhashNearDupsIndexed(idx, batch,
      "doc_id", "text", threshold = 0.5))
    val live = pairs(Dedup.minhashNearDupsAcross(hist, batch,
      "doc_id", "text", threshold = 0.5))
    assert(viaIndex == live && viaIndex.nonEmpty,
      s"index probe diverges (${viaIndex.size} vs ${live.size})")
    // append path: half the history saved, other half appended — probe
    // must match the full-save index exactly
    val dir2 = java.nio.file.Files.createTempDirectory("mh-idx2").toString
    Dedup.saveMinhashIndex(hist.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir2, threshold = 0.5, numFiles = 4)
    Dedup.appendToMinhashIndex(hist.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", dir2)
    val viaAppend = pairs(Dedup.minhashNearDupsIndexed(
      Dedup.loadMinhashIndex(spark, dir2), batch, "doc_id", "text",
      threshold = 0.5))
    assert(viaAppend == live, "appended index diverges from full save")
    // novel complement: kept batch ids = batch minus verified dups
    val novel = Dedup.novelAgainstMinhashIndex(idx, batch, "doc_id", "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    val dupIds = live.map(_._2)
    val all = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(novel == all -- dupIds, "novel set is not the exact complement")
  }

  test("saved BM25 inverted index matches the live pass; term filter reaches the scan") {
    import spark.implicits._
    import graft.ops.Retrieval
    val qdf = Seq((0L, "spark join merge"), (1L, "customer data line"))
      .toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25-idx").toString
    Retrieval.saveBm25Index(docs, "doc_id", "text", dir, numFiles = 4)
    val viaIndex = Retrieval.bm25TopKWithIndex(
      Retrieval.loadBm25Index(spark, dir), qdf, "qid", "qtext", k = 10)
    val live = Retrieval.bm25TopK(docs, "doc_id", "text",
      qdf, "qid", "qtext", k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSet
    assert(rows(viaIndex) == rows(live),
      s"index probe diverges from live pass")
    // the probe's token IN (...) must be PUSHED to the postings scan —
    // that pushdown meeting the token-clustered layout is the
    // inverted-index seek
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"),
      s"term filter not pushed to postings scan:\n${plan.take(2000)}")
  }

  test("BM25 probe above the literal-term cap: semi-join plan, no literal IN, same scores") {
    import spark.implicits._
    import graft.ops.Retrieval
    // offline-eval shape (VERDICT r11 task #4): past the literal cap the
    // distinct terms must stay distributed — a broadcast semi-join against
    // the postings — because a 10^4+-literal IN list blows up the plan and
    // defeats range-based file skipping
    val qdf = Seq((0L, "spark join merge"), (1L, "customer data line"))
      .toDF("qid", "qtext")
    val dir = java.nio.file.Files.createTempDirectory("bm25-semi").toString
    Retrieval.saveBm25Index(docs, "doc_id", "text", dir, numFiles = 4)
    val idx = Retrieval.loadBm25Index(spark, dir)
    val live = Retrieval.bm25TopK(docs, "doc_id", "text", qdf, "qid", "qtext", k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.rint(r.getDouble(3) * 1e6) / 1e6)).toSet
    val big = Retrieval.bm25TopKWithIndex(idx, qdf, "qid", "qtext",
      k = 10, maxLiteralTerms = 2) // 6 distinct terms > 2 → large path
    assert(rows(big) == rows(live), "large-path probe diverges from live pass")
    val plan = big.queryExecution.executedPlan.toString
    assert(!plan.contains("In(token"),
      s"large path must not plan a literal IN over the postings:\n${plan.take(2000)}")
    assert(plan.contains("LeftSemi"),
      s"large path must semi-join the terms frame:\n${plan.take(2000)}")
    // and the interactive path is unchanged by the new parameter
    val small = Retrieval.bm25TopKWithIndex(idx, qdf, "qid", "qtext", k = 10)
    assert(rows(small) == rows(live))
    assert(small.queryExecution.executedPlan.toString.contains("PushedFilters: [In(token"))
  }

  test("BM25 index append is bit-identical to a full rebuild") {
    import spark.implicits._
    import graft.ops.Retrieval
    val qdf = Seq((0L, "spark join merge"), (1L, "customer data line"))
      .toDF("qid", "qtext")
    val full = java.nio.file.Files.createTempDirectory("bm25-full").toString
    val incr = java.nio.file.Files.createTempDirectory("bm25-incr").toString
    Retrieval.saveBm25Index(docs, "doc_id", "text", full, numFiles = 4)
    Retrieval.saveBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", incr, numFiles = 4)
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", incr, numFiles = 4)
    def probe(p: String) = Retrieval.bm25TopKWithIndex(
        Retrieval.loadBm25Index(spark, p), qdf, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet // raw doubles — bit-identity, no rounding
    assert(probe(incr) == probe(full),
      "appended index diverges from full rebuild")
    // stats bumped exactly
    val fi = Retrieval.loadBm25Index(spark, full)
    val ii = Retrieval.loadBm25Index(spark, incr)
    assert(fi.nDocs == ii.nDocs && fi.avgdl == ii.avgdl)
    // maintenance: compacting the append-grown postings dir back to few
    // token-clustered files must not change a single probe row
    val before = probe(incr)
    graft.ops.Layout.compact(spark, s"$incr/postings",
      Seq(col("token")), numFiles = 2)
    val postFiles = new java.io.File(s"$incr/postings")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(postFiles <= 2, s"compact left $postFiles files")
    assert(probe(incr) == before, "compaction changed probe results")
  }

  test("index delete is identical to a rebuild without the ids (BM25 / MinHash / IVF)") {
    import spark.implicits._
    import graft.ops.{Retrieval, Similarity}
    val qdf = Seq((0L, "spark join merge"), (1L, "customer data line"))
      .toDF("qid", "qtext")
    val delIds = docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))
    val keep = docs.filter(col("doc_id") % 3 =!= 0)
    def tmp(n: String) = java.nio.file.Files.createTempDirectory(n).toString

    // BM25: deleted index bit-identical to a rebuild over corpus \ ids
    val (bmDel, bmRef) = (tmp("bm-del"), tmp("bm-ref"))
    Retrieval.saveBm25Index(docs, "doc_id", "text", bmDel, numFiles = 4)
    Retrieval.deleteFromBm25Index(delIds, "doc_id", bmDel, numFiles = 2)
    Retrieval.saveBm25Index(keep, "doc_id", "text", bmRef, numFiles = 4)
    def probe(p: String) = Retrieval.bm25TopKWithIndex(
        Retrieval.loadBm25Index(spark, p), qdf, "qid", "qtext", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet // raw doubles — bit-identity
    assert(probe(bmDel) == probe(bmRef), "deleted index diverges from rebuild")
    val (di, ri) = (Retrieval.loadBm25Index(spark, bmDel),
      Retrieval.loadBm25Index(spark, bmRef))
    assert(di.nDocs == ri.nDocs && di.avgdl == ri.avgdl,
      s"stats drifted: ${di.nDocs}/${di.avgdl} vs ${ri.nDocs}/${ri.avgdl}")
    // idempotent: re-deleting the same (now absent) ids changes nothing
    Retrieval.deleteFromBm25Index(delIds, "doc_id", bmDel, numFiles = 2)
    assert(probe(bmDel) == probe(bmRef), "re-delete must be a no-op")

    // MinHash: row-identity of bands AND shingles vs rebuild
    val (mhDel, mhRef) = (tmp("mh-del"), tmp("mh-ref"))
    Dedup.saveMinhashIndex(docs, "doc_id", "text", mhDel,
      threshold = 0.5, numFiles = 4)
    Dedup.deleteFromMinhashIndex(delIds, "doc_id", mhDel, numFiles = 2)
    Dedup.saveMinhashIndex(keep, "doc_id", "text", mhRef,
      threshold = 0.5, numFiles = 4)
    def rowsOf(p: String) = spark.read.parquet(p).collect().map(_.toSeq).toSet
    assert(rowsOf(s"$mhDel/bands") == rowsOf(s"$mhRef/bands"),
      "band rows diverge from rebuild")
    assert(rowsOf(s"$mhDel/shingles") == rowsOf(s"$mhRef/shingles"),
      "shingle rows diverge from rebuild")

    // IVF: deleted ids never surface, kept probes still self-recover
    val ivf = tmp("ivf-del")
    Similarity.saveIvfIndex(emb, "vec_id", "embedding", ivf,
      numCentroids = 16, kmeansIters = 1, numFiles = 4)
    val delV = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    Similarity.deleteFromIvfIndex(delV, "vec_id", ivf)
    // probes carry offset ids (the q82 convention — results exclude the
    // probe's own id, so an un-offset self probe would never match)
    val probes = emb.filter(col("vec_id") < 12)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val res = Similarity.ivfTopKWithIndex(Similarity.loadIvfIndex(spark, ivf),
        probes, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0) - 5000000L, r.getLong(1), r.getLong(2)))
    assert(res.forall(_._2 % 3 != 0), "deleted ids surfaced in probe results")
    val self = res.filter(r => r._3 == 1L && r._1 % 3 != 0)
    assert(self.nonEmpty && self.forall(r => r._2 == r._1),
      "kept vectors must still self-recover at rank 1")

    // PQ / IVF-PQ: codes tables drop exactly the deleted rows
    val (pq, fused) = (tmp("pq-del"), tmp("ivfpq-del"))
    Similarity.savePqIndex(emb, "vec_id", "embedding", pq,
      dim = 64, m = 8, ksub = 16, trainFraction = 0.25)
    Similarity.deleteFromPqIndex(delV, "vec_id", pq)
    Similarity.saveIvfPqIndex(emb, "vec_id", "embedding", fused,
      dim = 64, numCentroids = 16, m = 8, ksub = 16,
      trainFraction = 0.25, numFiles = 4)
    Similarity.deleteFromIvfPqIndex(delV, "vec_id", fused)
    val nKeep = emb.count() - delV.count()
    for (p <- Seq(s"$pq/codes", s"$fused/codes")) {
      val codes = spark.read.parquet(p)
      assert(codes.filter(col("vec_id") % 3 === 0).count() == 0, s"$p kept deleted ids")
      assert(codes.count() == nKeep, s"$p row count off")
    }
  }

  test("temperature mix: smallest stratum whole, kept counts track sqrt law") {
    import spark.implicits._
    import graft.ops.Sampling
    // strata of 6400 / 1600 / 100 rows: sqrt law keeps ~ f = sqrt(100/n)
    val df = ((1 to 6400).map(i => (i.toLong, "big")) ++
      (1 to 1600).map(i => (10000L + i, "mid")) ++
      (1 to 100).map(i => (20000L + i, "tiny")))
      .toDF("id", "grp")
    val kept = Sampling.temperatureMix(df, col("grp"), col("id"))
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("tiny") == 100L, s"smallest stratum must pass whole: $kept")
    // expected kept: big 6400*sqrt(100/6400)=800, mid 1600*(1/4)=400;
    // hash granularity gives binomial-ish wobble — allow 15%
    assert(math.abs(kept("big") - 800.0) < 120, kept.toString)
    assert(math.abs(kept("mid") - 400.0) < 60, kept.toString)
    // deterministic: same input → identical kept set
    val a = Sampling.temperatureMix(df, col("grp"), col("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.temperatureMix(df.repartition(7), col("grp"), col("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("temperature mix: NULL stratum is counted and kept, not silently dropped") {
    import spark.implicits._
    import graft.ops.Sampling
    // NULL is the smallest stratum (100 rows vs 6400) → sqrt law says it
    // passes WHOLE. Before the null-safe fix, NULL rows set tMin but then
    // fell through every === branch to the sentinel and were dropped.
    val df = ((1 to 6400).map(i => (i.toLong, Some("big"))) ++
      (1 to 100).map(i => (20000L + i, Option.empty[String])))
      .toDF("id", "grp")
    val kept = Sampling.temperatureMix(df, col("grp"), col("id"))
      .groupBy("grp").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(kept.getOrElse(None, 0L) == 100L,
      s"NULL stratum must pass whole (it is the smallest): $kept")
    assert(math.abs(kept.getOrElse(Some("big"), 0L) - 800.0) < 120,
      kept.toString)
  }

  test("bm25 index: interrupted stats swap recovers on load; repair rebuilds exact stats") {
    import spark.implicits._
    import graft.ops.Retrieval
    val dir = java.nio.file.Files.createTempDirectory("bm25-repair").toString
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta beta delta"),
      (3L, "gamma epsilon")).toDF("doc_id", "text")
    Retrieval.saveBm25Index(docs, "doc_id", "text", dir, numFiles = 2)
    val good = Retrieval.loadBm25Index(spark, dir)
    // crash simulation 1: swap interrupted after delete, before rename —
    // stats live only in stats__staged; load must finish the rename
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/stats"),
      new org.apache.hadoop.fs.Path(s"$dir/stats__staged"))
    val recovered = Retrieval.loadBm25Index(spark, dir)
    assert(recovered.nDocs == good.nDocs && recovered.avgdl == good.avgdl)
    // crash simulation 2: postings appended, stats bump lost — stats are
    // stale; repair recomputes the exact pair from the postings
    Seq((0L, 0L)).toDF("n_docs", "sum_dl")
      .write.mode("overwrite").parquet(s"$dir/stats")
    val (nDocs, sumDl) = Retrieval.repairBm25Stats(spark, dir)
    assert(nDocs == good.nDocs, s"repair nDocs $nDocs != ${good.nDocs}")
    val repaired = Retrieval.loadBm25Index(spark, dir)
    assert(repaired.nDocs == good.nDocs && repaired.avgdl == good.avgdl,
      s"repaired ($nDocs, $sumDl) should replay the original stats")
  }

  test("IR eval: hand-computed recall/MRR/nDCG, zero-hit query, no-relevant drops") {
    import spark.implicits._
    import graft.ops.Retrieval
    val ranked = Seq(
      (0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L),   // q0: hit at rank 2
      (1L, 1L, 1L), (1L, 2L, 2L),                 // q1: no hits
      (2L, 7L, 1L))                               // q2 has NO relevant docs
      .toDF("query_id", "doc_id", "rank")
    val relevant = Seq((0L, 2L), (0L, 9L), (1L, 9L))
      .toDF("query_id", "doc_id")
    val out = Retrieval.evalBinaryRetrieval(ranked, relevant, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(out.keySet == Set(0L, 1L)) // q2 dropped: no relevant docs
    def term(i: Int): BigDecimal =
      BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val ndcg0 = term(2).toDouble / (term(1) + term(2)).toDouble
    val (nRel0, nHit0, rec0, mrr0, n0) = out(0L)
    assert(nRel0 == 2L && nHit0 == 1L && rec0 == 0.5 && mrr0 == 0.5)
    assert(math.abs(n0 - ndcg0) < 1e-9, s"ndcg $n0 != $ndcg0")
    assert(out(1L) == ((1L, 0L, 0.0, 0.0, 0.0)), out(1L).toString)
  }

  test("span excision: shared 3-gram cut, unique doc untouched, full-dup doc empties") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y z w q"),        // shares "x y z" with 2 → tokens 0-2 cut
      (2L, "x y z a b"),        // same → "a b" survives
      (3L, "totally unique words here"), // no dup grams → unchanged
      (4L, "x y z"), (5L, "x y z"))      // fully duplicated → ""
      .toDF("doc_id", "text")
    val out = Dedup.exciseDupSpans(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((5L, 3L, "w q")), out(1L).toString)
    assert(out(2L) == ((5L, 3L, "a b")), out(2L).toString)
    assert(out(3L) == ((4L, 0L, "totally unique words here")), out(3L).toString)
    assert(out(4L) == ((3L, 3L, "")) && out(5L) == ((3L, 3L, "")))
    // stats agreement: n_removed equals dupSpanStats covered_tokens
    val stats = Dedup.dupSpanStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out.forall { case (id, (_, rm, _)) => stats(id) == rm },
      s"excision/coverage disagree: $out vs $stats")
  }

  test("unicode normalization: NFC folds composed/decomposed, accents strip") {
    import spark.implicits._
    import graft.functions.textnorm._
    val df = Seq(
      ("café", "café"),       // é composed vs decomposed
      ("señor", "señor"),     // ñ
      ("plain ascii", "plain ascii")
    ).toDF("a", "b")
    val out = df.select(
      (md5(nfc_normalize(col("a"))) === md5(nfc_normalize(col("b")))).as("same"),
      strip_accents(nfc_normalize(col("a"))).as("folded")).collect()
    assert(out.forall(_.getBoolean(0)), "NFC must converge composed and decomposed forms")
    assert(out.map(_.getString(1)).toSeq == Seq("cafe", "senor", "plain ascii"))
  }

  test("covariance + PCA: exact symmetric stats, orthonormal variance-ordered basis, projection variance = eigenvalue") {
    import graft.ops.Embeddings
    val e = emb
    val n = e.count().toDouble
    // quantized (gate) and double (production) covariance agree to the
    // quantization error bound
    val covQ = Embeddings.embeddingCovariance(e, "embedding", Some(1e-6))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val covD = Embeddings.embeddingCovariance(e, "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    assert(covQ.size == 64 * 65 / 2)
    assert((0 until 64).forall(i => covQ((i, i)) > 0), "variances must be positive")
    assert(covQ.forall { case (k, v) => math.abs(v - covD(k)) < 1e-5 })

    val basis = Embeddings.pcaFit(e, "embedding", k = 8)
    assert(basis.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12),
      "eigenvalues must be descending")
    assert(basis.eigenvalues.forall(_ >= -1e-12), "covariance eigenvalues are nonnegative")
    // orthonormal basis
    for (a <- 0 until 8; b <- a until 8) {
      val dot = basis.components(a).zip(basis.components(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9,
        s"components $a,$b not orthonormal: $dot")
    }
    // sample variance along component c equals eigenvalue c (same data)
    val proj = Embeddings.pcaProject(e, "embedding", basis)
      .select(col("pca")).collect().map(_.getSeq[Double](0).toArray)
    (0 until 8).foreach { c =>
      val vals = proj.map(_(c))
      val mean = vals.sum / n
      assert(math.abs(mean) < 1e-9, s"projections are mean-centered, got $mean")
      val variance = vals.map(v => (v - mean) * (v - mean)).sum / (n - 1)
      assert(math.abs(variance - basis.eigenvalues(c)) <=
        1e-6 * math.max(1.0, basis.eigenvalues(c)),
        s"component $c variance $variance != eigenvalue ${basis.eigenvalues(c)}")
    }
  }

  test("prototype prune: per-cluster floor cut, exact rank order in the single-cluster case") {
    import spark.implicits._
    import graft.ops.Embeddings
    // invariants on the real corpus: every vector classified once, each
    // cluster drops exactly floor(0.25 * size) members, dropped = the
    // lowest proto_ranks
    val out = Embeddings.prototypePrune(emb, "vec_id", "embedding",
      numClusters = 8, dropFrac = 0.25, meanQuantizeInv = Some(1e9))
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.length == emb.count(), "one row per input vector")
    assert(rows.map(_._1).distinct.length == rows.length, "ids unique")
    rows.groupBy(_._2).foreach { case (cl, members) =>
      val size = members.head._4
      assert(members.length == size, s"cluster $cl count != cluster_size")
      assert(members.map(_._3).sorted.toSeq == (1L to size).toSeq,
        s"cluster $cl ranks must be 1..$size")
      val cut = math.floor(0.25 * size).toLong
      members.foreach { case (_, _, rank, _, kept) =>
        assert(kept == (rank > cut), s"cluster $cl rank $rank kept=$kept cut=$cut")
      }
      assert(members.count(!_._5) == cut)
    }
    // dropFrac = 0 keeps everything
    val all = Embeddings.prototypePrune(emb, "vec_id", "embedding",
      numClusters = 8, dropFrac = 0.0, meanQuantizeInv = Some(1e9))
    assert(all.filter(!col("kept")).count() == 0)

    // single cluster, hand-checkable geometry: 2-d unit vectors at known
    // angles; after one Lloyd pass the centroid is their mean, and
    // proto_rank must order by cosine-to-mean descending
    val angles = Seq(0.0, 0.1, 0.2, 0.4, 1.2)
    val vecs = angles.zipWithIndex.map { case (a, i) =>
      (i.toLong, Seq(math.cos(a), math.sin(a))) }
    val df = vecs.toDF("vec_id", "embedding")
    val mean = Array(vecs.map(_._2(0)).sum / 5, vecs.map(_._2(1)).sum / 5)
    def cos(v: Seq[Double]) = {
      val dot = v(0) * mean(0) + v(1) * mean(1)
      dot / math.sqrt(v(0) * v(0) + v(1) * v(1)) /
        math.sqrt(mean(0) * mean(0) + mean(1) * mean(1))
    }
    val expected = vecs.sortBy(v => (-cos(v._2), v._1)).map(_._1)
    val got = Embeddings.prototypePrune(df, "vec_id", "embedding",
        numClusters = 1, dropFrac = 0.4)
      .orderBy(col("proto_rank")).collect().map(_.getLong(0)).toSeq
    assert(got == expected, s"rank order $got != cosine-to-mean order $expected")
  }

  test("perplexity buckets: equal-depth per-source thirds, bucket monotone in score") {
    import graft.ops.LangModel
    val out = LangModel.perplexityBuckets(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getString(5)))
    val scored = LangModel.perplexityScore(docs, docs, "doc_id", "text").count()
    assert(out.length == scored, "every scored doc is banded exactly once")
    out.groupBy(_._2).foreach { case (src, members) =>
      val n = members.length
      // equal depth: each bucket within 1 of n/3
      val sizes = members.groupBy(_._5).view.mapValues(_.length).toMap
      (0L to 2L).foreach { b =>
        val s = sizes.getOrElse(b, 0)
        assert(math.abs(s - n / 3.0) <= 1.0, s"$src bucket $b size $s of $n")
      }
      // monotone: sorting by (score, id) never decreases the bucket
      val inOrder = members.sortBy(m => (m._4, m._1)).map(_._5)
      assert(inOrder.zip(inOrder.tail).forall { case (a, b) => a <= b },
        s"$src buckets must be monotone in cross-entropy")
      members.foreach { m =>
        val want = m._5 match { case 0 => "head" case 1 => "middle" case _ => "tail" }
        assert(m._6 == want, s"band label ${m._6} != $want for bucket ${m._5}")
      }
    }
    // numBuckets = 1 → everything lands in bucket 0 labeled b0
    val one = LangModel.perplexityBuckets(docs, "doc_id", "text", "source", 1)
      .select(col("bucket"), col("band")).distinct().collect()
    assert(one.length == 1 && one(0).getLong(0) == 0L && one(0).getString(1) == "b0")
  }

  test("leak-free split: near-dup pairs never straddle the cut, singletons follow their own hash") {
    import graft.ops.Sampling
    val pairs = Dedup.ngramJaccardNearDups(planted, "doc_id", "text",
      blockCol = col("source"), threshold = 0.5)
    val out = Sampling.leakFreeSplit(planted, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out.size == planted.count(), "one row per doc")
    // atomicity: every near-dup pair shares cluster AND split
    pairs.select(col("id_a"), col("id_b")).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(out(a) == out(b), s"pair ($a,$b) straddles: ${out(a)} vs ${out(b)}")
    }
    // both sides populated, and a singleton's split is its own id's hash
    assert(out.values.map(_._2).toSet == Set("train", "test"))
    val singles = out.collect { case (id, (cl, sp)) if cl == id => id -> sp }
    val own = docs.sparkSession.createDataFrame(
        docs.sparkSession.sparkContext.parallelize(
          singles.toSeq.map(s => org.apache.spark.sql.Row(s._1))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))))
      .withColumn("split", TextAnalysis.hashSplit(col("id")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    singles.foreach { case (id, sp) =>
      assert(own(id) == sp, s"singleton $id split $sp != hashSplit ${own(id)}") }
  }

  test("winnowing: shared k+w-1 run guarantees a shared fingerprint, df cut prunes boilerplate") {
    import spark.implicits._
    // the winnowing guarantee: any shared token run of k+w-1 = 7 words
    // yields at least one shared fingerprint, whatever surrounds it
    val run = (1 to 7).map(i => s"r$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta gamma delta $run epsilon zeta"),
      (2L, s"one two three four five $run six seven"),
      (3L, "totally different words with no overlap at all present")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowNearDups(df, "doc_id", "text", minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"shared run must fingerprint-match: $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L), s"no-overlap doc paired: $got")
    // planted prefix-copies on the real corpus are recovered
    val n = docs.count()
    val found = Dedup.winnowNearDups(planted, "doc_id", "text").collect()
      .count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(found >= (n * 0.95).toInt, s"found only $found of $n planted twins")
    // boilerplate: a fingerprint in > maxDf docs joins NOTHING
    val boiler = (1 to 300).map(i =>
      (i.toLong, "common boiler plate line repeated all over the corpus"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowNearDups(boiler, "doc_id", "text", minShared = 1).count() == 0,
      "over-df fingerprints must be cut, not joined")
    // sub-k documents emit no fingerprints; sub-w gram lists keep one
    val short = Seq((9L, "a b c"), (10L, "a b c d")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(short, "doc_id", "text")
      .collect().map(r => r.getLong(0))
    assert(!fps.contains(9L) && fps.count(_ == 10L) == 1)
  }

  test("winnowing guarantee holds on 200 random planted-run pairs") {
    import spark.implicits._
    // any two docs sharing a contiguous run of >= k+w-1 tokens MUST share
    // a fingerprint, whatever random context surrounds the run — the
    // paper's guarantee, checked over 200 random cases in one Spark pass
    val rnd = new scala.util.Random(42)
    def ws(n: Int, tag: String) = Seq.fill(n)(tag + rnd.nextInt(5000))
    val rows = (0 until 200).flatMap { i =>
      val run = ws(7 + rnd.nextInt(10), s"s${i}x")
      val a = ws(rnd.nextInt(30), s"a${i}x") ++ run ++ ws(rnd.nextInt(30), s"c${i}x")
      val b = ws(rnd.nextInt(30), s"b${i}x") ++ run ++ ws(rnd.nextInt(30), s"d${i}x")
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" ")))
    }
    val pairs = Dedup.winnowNearDups(rows.toDF("doc_id", "text"),
        "doc_id", "text", minShared = 1, maxDf = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 200).foreach { i =>
      assert(pairs.contains((2L * i, 2L * i + 1)), s"planted pair $i missed") }
  }

  test("CDC chunking: reconstruction, modulus-1 degenerates to words, edit locality") {
    import spark.implicits._
    // modulus 1: every word is a boundary → one 1-word chunk per word
    val one = Dedup.cdcChunks(Seq((1L, "a b c d e")).toDF("doc_id", "text"),
      "doc_id", "text", modulus = 1).collect()
    assert(one.length == 5 && one.forall(_.getLong(2) == 1L))
    // chunks partition the document: per doc, word counts sum to the
    // token count and chunk indexes are dense 0..n-1
    val rec = Dedup.cdcChunks(docs, "doc_id", "text", modulus = 8)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nc"), sum(col("n_words")).as("nw"),
        max(col("chunk_idx")).as("mx"))
      .join(docs.select(col("doc_id"),
        size(TextAnalysis.words(col("text"))).cast("long").as("tok")), "doc_id")
      .collect()
    assert(rec.nonEmpty)
    rec.foreach { r =>
      assert(r.getLong(2) == r.getLong(4), s"chunk words != tokens: $r")
      assert(r.getLong(3) == r.getLong(1) - 1, s"chunk_idx not dense: $r")
    }
    // edit locality: replacing ONE word changes at most 2 chunk hashes
    val base = (1 to 60).map(i => s"w$i")
    val edited = base.updated(30, "EDITED")
    val pair = Seq((1L, base.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")
    val byDoc = Dedup.cdcChunks(pair, "doc_id", "text", modulus = 8)
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(3)).toSet }
    val sharedChunks = (byDoc(1L) intersect byDoc(2L)).size
    assert(sharedChunks >= byDoc(1L).size - 2,
      s"edit touched more than its neighborhood: ${byDoc(1L).size} vs $sharedChunks shared")
    // planted twins share chunks corpus-wide; modulus 8 (finer chunks)
    // because a doc short enough to be ONE chunk shares nothing with a
    // tail-trimmed twin — by design, its only chunk was edited
    val stats = Dedup.cdcSharedChunkStats(planted, "doc_id", "text",
        modulus = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val n = docs.count()
    assert(stats.count(_._2 > 0) >= (1.5 * n).toInt,
      s"planted twins must share chunks: ${stats.count(_._2 > 0)} of ${2 * n}")
  }

  test("soft dedup: cluster mass sums to one, singletons weigh 1, weights join-stable with clusters") {
    import spark.implicits._
    import graft.ops.Sampling
    // planted pairs EVERY doc with its twin — add one genuine loner so
    // the singleton path is exercised too
    val corpus = planted.unionByName(
      Seq((999999L, "srcX", "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8"))
        .toDF("doc_id", "source", "text"))
    val pairs = Dedup.ngramJaccardNearDups(corpus, "doc_id", "text",
      blockCol = col("source"), threshold = 0.5)
    val out = Dedup.softDedupWeights(corpus, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length == corpus.count())
    out.groupBy(_._2).foreach { case (cl, members) =>
      val cs = members.head._3
      assert(members.length == cs, s"cluster $cl count != cluster_size")
      assert(members.forall(_._4 == 1.0 / cs))
      // total training mass of a duplicated item = 1
      assert(math.abs(members.map(_._4).sum - 1.0) < 1e-9)
    }
    val loner = out.find(_._1 == 999999L).get
    assert(loner._3 == 1L && loner._4 == 1.0 && loner._2 == 999999L,
      s"loner must be its own weight-1 cluster: $loner")
    assert(out.exists(_._3 > 1L), "fixture must contain clusters")
    // same clusters as the hard split uses — the two dedup modes agree
    // on STRUCTURE, differing only in drop-vs-weight
    val splitClusters = Sampling.leakFreeSplit(corpus, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (id, cl, _, _) => splitClusters(id) == cl })
    // pairs mined from a SUPERSET of docs (pre-filter mining): absent
    // members must not dilute the survivors — cluster_size counts only
    // present docs, so per-cluster mass still sums to 1
    val half = corpus.filter(col("doc_id") < 1000000L) // drop every twin
    val halfOut = Dedup.softDedupWeights(half, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(halfOut.length == half.count())
    // sizes count PRESENT members only: each cluster's surviving mass
    // still sums to 1 (absent twins would have halved every weight), and
    // a doc whose only near-dup was its twin is back to weight 1
    halfOut.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.length == members.head._3, s"cluster $cl size ≠ present count")
      assert(math.abs(members.map(_._4).sum - 1.0) < 1e-9,
        s"cluster $cl mass ${members.map(_._4).sum} ≠ 1 under superset pairs")
    }
    assert(halfOut.exists { case (_, _, cs, w) => cs == 1L && w == 1.0 },
      "fixture must contain a doc whose only pair partner was its twin")
  }

  test("span corruption: reconstruction inverts the corruption, counts consistent, deterministic") {
    val out = TextAnalysis.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    val originals = docs.select(col("doc_id"), trim(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == originals.size)
    val sentinel = "<extra_id_(\\d+)>".r
    out.foreach { case (id, (nw, nm, ns, corrupted, target)) =>
      assert(ns <= nm, s"doc $id: more spans than masked words")
      // parse target: sentinel -> the words it hides
      val ttoks = target.split(" ").filter(_.nonEmpty)
      val spans = scala.collection.mutable.Map[String, Vector[String]]()
      var cur: String = null
      ttoks.foreach {
        case s if sentinel.matches(s) => cur = s; spans(cur) = Vector()
        case w => spans(cur) = spans(cur) :+ w
      }
      assert(spans.size == ns, s"doc $id: target has ${spans.size} spans, expected $ns")
      // splice the spans back in: must equal the original text
      val rebuilt = corrupted.split(" ").filter(_.nonEmpty).flatMap {
        case s if sentinel.matches(s) => spans(s)
        case w => Seq(w)
      }.mkString(" ")
      val orig = originals(id).split("\\s+").mkString(" ")
      assert(rebuilt == orig, s"doc $id: reconstruction diverges")
      // corrupted length bookkeeping
      val nCorr = corrupted.split(" ").count(_.nonEmpty)
      assert(nCorr == nw - nm + ns, s"doc $id: corrupted token count off")
    }
    assert(out.values.exists(_._2 > 0), "fixture must mask something")
    assert(out.values.exists(v => v._2 > v._3), "fixture must contain a multi-word span")
    // determinism: identical second run
    val again = TextAnalysis.spanCorrupt(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(again == out)
  }

  test("contrastive triples: both directions, negative disjoint, deterministic") {
    import graft.ops.Sampling
    val pairs = Dedup.ngramJaccardNearDups(planted, "doc_id", "text",
      blockCol = col("source"), threshold = 0.5)
    val nPairs = pairs.count()
    val out = Sampling.contrastiveTriples(planted, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 2 * nPairs, "every pair anchors in both directions")
    out.foreach { case (a, p, n) =>
      assert(n != a && n != p, s"negative $n collides with anchor/positive ($a, $p)")
    }
    // positives really are the pair set, both ways
    val posSet = pairs.select(col("id_a"), col("id_b")).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet
    assert(out.map(t => (t._1, t._2)).toSet == posSet)
    // deterministic: same triples on a second run
    val again = Sampling.contrastiveTriples(planted, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
    // an anchor with DIFFERENT positives can keep the same ring negative;
    // the same (anchor, positive) always maps to ONE negative
    assert(out.groupBy(t => (t._1, t._2)).forall(_._2.map(_._3).distinct.length == 1))
  }

  test("LPT shard balance: complete, balanced within max-doc, beats round-robin skew") {
    import spark.implicits._
    val df = docs.withColumn("nt", graft.ops.TextAnalysis.tokenCount(col("text")))
    val out = TextAnalysis.shardBalanceLPT(df, "doc_id", "nt", col("source"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == docs.count())
    out.groupBy(_._1).foreach { case (g, members) =>
      val fills = members.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
      assert(fills.keySet.forall(s => s >= 0 && s < 8), s"$g shard ids")
      // LPT invariant: when every shard is non-empty, max-min fill is
      // bounded by the largest doc (the last doc placed on the max shard
      // went there while it was the LIGHTEST)
      if (fills.size == 8) {
        val spread = fills.values.max - fills.values.min
        val maxDoc = members.map(_._3).max
        assert(spread <= maxDoc, s"$g spread $spread > max doc $maxDoc")
      }
      // shard_pos dense per shard
      members.groupBy(_._4).foreach { case (sh, ms) =>
        assert(ms.map(_._5).sorted.toSeq == (0L until ms.length), s"$g/$sh pos")
      }
      // skew no worse than deterministic round-robin in id order
      val rr = members.sortBy(_._2).zipWithIndex
        .groupBy(_._2 % 8).view.mapValues(_.map(_._1._3).sum)
      def skew(m: Iterable[Long]) = m.max - m.min
      assert(skew(fills.values) <= skew(rr.values.toSeq),
        s"$g LPT skew must not exceed round-robin")
    }
    // deterministic under repartition
    val again = TextAnalysis.shardBalanceLPT(df.repartition(7), "doc_id", "nt",
        col("source"), 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
  }

  test("hierarchical LPT: complete + dense, merge-bounded spread, G=1 ≡ exact partition") {
    import spark.implicits._
    val nShards = 8
    val g = 16
    val df = docs.withColumn("nt", graft.ops.TextAnalysis.tokenCount(col("text")))
    val n = docs.count()

    // the scale-path shape: ONE global group (exact LPT's scale-killer)
    val out = TextAnalysis.shardBalanceLPTHierarchical(
        df, "doc_id", "nt", lit("all"), nShards, subGroups = g)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.length == n, "every doc assigned exactly once")
    assert(out.map(_._2).distinct.length == n.toInt)
    assert(out.forall(t => t._4 >= 0 && t._4 < nShards), "shard ids in range")
    out.groupBy(_._4).foreach { case (sh, ms) =>
      assert(ms.map(_._5).sorted.toSeq == (0L until ms.length),
        s"shard $sh positions dense placement order")
    }

    // merge-level LPT invariant: final spread is bounded by the largest
    // super-item. A (sub, shard) cell is a union of >=1 whole super-items,
    // so max cell weight >= max super-item weight — a computable upper
    // bound witness without reaching into the internals.
    val fills = out.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
    if (fills.size == nShards) {
      val spread = fills.values.max - fills.values.min
      // recompute each doc's sub-group exactly as the impl does
      val cells = df.select(col("doc_id").cast("long").as("id"), col("nt").cast("long").as("w"))
        .withColumn("sub", pmod(xxhash64(col("id")), lit(g.toLong)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val shardOf = out.map(t => t._2 -> t._4).toMap
      val maxCell = cells.groupBy(c => (c._3, shardOf(c._1)))
        .values.map(_.map(_._2).sum).max
      assert(spread <= maxCell,
        s"hierarchical spread $spread exceeds the max (sub,shard) cell $maxCell")
    }

    // deterministic under repartition
    val again = TextAnalysis.shardBalanceLPTHierarchical(
        df.repartition(7), "doc_id", "nt", lit("all"), nShards, subGroups = g)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(again.sorted.toSeq == out.sorted.toSeq)

    // subGroups=1 degenerates to the exact walk: same PARTITION of docs
    // into shards (shard ids may be relabeled by the weight-ranked merge)
    val exact = TextAnalysis.shardBalanceLPT(df, "doc_id", "nt", col("source"), nShards)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val hier1 = TextAnalysis.shardBalanceLPTHierarchical(
        df, "doc_id", "nt", col("source"), nShards, subGroups = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    def partition(rows: Array[(String, Long, Long)]): Set[Set[Long]] =
      rows.groupBy(t => (t._1, t._3)).values.map(_.map(_._2).toSet).toSet
    assert(partition(hier1) == partition(exact),
      "G=1 must induce the exact LPT partition (up to shard relabeling)")
  }

  test("hierarchical LPT: NULL group rows are assigned (null-safe map-back), guard fires early") {
    import spark.implicits._
    // a NULL group is a real group to groupByKey and to the exact walk;
    // the hierarchical map-back join must not silently drop it
    val df = Seq(
      (1L, 10L, "a"), (2L, 20L, "a"), (3L, 30L, null.asInstanceOf[String]),
      (4L, 40L, null.asInstanceOf[String]), (5L, 50L, "b"), (6L, 60L, null.asInstanceOf[String])
    ).toDF("doc_id", "nt", "src")
    val out = TextAnalysis.shardBalanceLPTHierarchical(
        df, "doc_id", "nt", col("src"), 2, subGroups = 4)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(3)))
    assert(out.length == 6, "every doc assigned exactly once, NULL group included")
    assert(out.count(_._1.isEmpty) == 3, "all three NULL-group docs survive")
    // NULL-group docs partition across shards like any other group
    assert(out.filter(_._1.isEmpty).forall(t => t._3 >= 0 && t._3 < 2))
    // matches the exact walk's treatment of NULL (same partition of ids)
    val exact = TextAnalysis.shardBalanceLPT(df, "doc_id", "nt", col("src"), 2)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(3)))
    assert(exact.filter(_._1.isEmpty).map(_._2).toSet ==
      out.filter(_._1.isEmpty).map(_._2).toSet)

    // driver-state guard fires BEFORE a large collect: 6 groups-ish worth
    // of super-items against a cap of 1
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.shardBalanceLPTHierarchical(
        df, "doc_id", "nt", col("src"), 2, subGroups = 4, maxSuperItems = 1)
    }
    assert(e.getMessage.contains("maxSuperItems"))
    assert(e.getMessage.contains("subGroups"))
  }

  test("epochOrder: bijective positions, epoch-keyed, equals the global-window order") {
    import graft.ops.Sampling
    import org.apache.spark.sql.expressions.Window
    val e1 = Sampling.epochOrder(docs, "doc_id", "s", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(e1.size == n && e1.values.toSeq.sorted == (1L to n))
    // identical on re-run; different epoch = a different permutation
    val again = Sampling.epochOrder(docs, "doc_id", "s", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == e1)
    val e2 = Sampling.epochOrder(docs, "doc_id", "s", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e2 != e1 && e2.values.toSeq.sorted == (1L to n))
    // bucketed rank == one global unpartitioned window
    val naive = docs.select(col("doc_id"))
      .withColumn("p", row_number().over(
        Window.orderBy(md5(concat(lit("s:1:"), col("doc_id").cast("string"))),
          col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e1 == naive)
  }

  test("perceptron: separable data converges, partition-invariant, cross-corpus apply") {
    import spark.implicits._
    import graft.ops.Learn
    // separable synthetic corpus: positive docs speak "good*", negative
    // docs "bad*" with a shared confuser token in both classes
    val synth = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "pos", s"good$i goodcommon shared tok$i")
      else (i.toLong, "neg", s"bad$i badcommon shared tok$i")
    }.toDF("doc_id", "source", "text")
    val out = Learn.perceptronClassify(synth, "doc_id", "text",
        col("source") === "pos", epochs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(out.length == 40)
    assert(out.forall(_._5), s"separable data must reach 100% training accuracy: " +
      out.filterNot(_._5).mkString(","))
    // deterministic and partition-invariant: batch updates are integer
    // sums, so a different partitioning must produce identical margins
    val again = Learn.perceptronClassify(synth.repartition(7), "doc_id", "text",
        col("source") === "pos", epochs = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // cross-corpus apply: weights trained on synth classify unseen docs
    // by their class vocabulary
    val w = Learn.perceptronWeights(synth, "doc_id", "text",
      col("source") === "pos", epochs = 5)
    assert(w.nonEmpty && w.size <= 65536)
    val unseen = Seq((100L, "goodcommon goodcommon shared"),
      (101L, "badcommon badcommon shared")).toDF("doc_id", "text")
    val applied = Learn.perceptronApply(unseen, "doc_id", "text", w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(applied(100L) == 1L && applied(101L) == -1L, applied.toString)
    // real corpus: the fixture's sources share one word distribution
    // (weak labels carry no textual signal), so the honest expectation is
    // structural — every tokenized doc classified, never WORSE than the
    // majority baseline (the all-one-class fixed point), margins exact
    val real = Learn.perceptronClassify(docs, "doc_id", "text",
        col("source").isin("src0", "src1", "src2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
    assert(real.length == docs.count())
    val n = real.length.toDouble
    val acc = real.count(_._3) / n
    val base = math.max(real.count(_._2 == 1L) / n, real.count(_._2 == -1L) / n)
    assert(acc >= base - 1e-9, s"acc $acc fell below majority baseline $base")
  }

  test("contrastive ring: bucketed prefix-sum rank == single global window") {
    import graft.ops.{Dedup, Sampling}
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.ngramJaccardNearDups(planted, "doc_id", "text",
      blockCol = col("source"), threshold = 0.5)
    val out = Sampling.contrastiveTriples(planted, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // naive replica: ONE global unpartitioned window (the pre-r9 shape the
    // bucketed rank must reproduce exactly)
    val ids = planted.select(col("doc_id").as("__id")).distinct()
    val n = ids.count()
    val byHash = Window.orderBy(
      md5(concat(lit("ng0"), col("__id").cast("string"))), col("__id"))
    val ring = ids.withColumn("__r", row_number().over(byHash).cast("long"))
    val pos = pairs.select(col("id_a").as("anchor"), col("id_b").as("positive"))
      .unionAll(pairs.select(col("id_b").as("anchor"), col("id_a").as("positive")))
    val naive = pos
      .join(ring.select(col("__id").as("anchor"), col("__r").as("__ra")), Seq("anchor"))
      .withColumn("__r1", pmod(col("__ra"), lit(n)) + 1L)
      .withColumn("__r2", pmod(pmod(col("__ra"), lit(n)) + 1L, lit(n)) + 1L)
      .join(ring.select(col("__r").as("__r1"), col("__id").as("__nb1")), Seq("__r1"))
      .join(ring.select(col("__r").as("__r2"), col("__id").as("__nb2")), Seq("__r2"))
      .select(col("anchor"), col("positive"),
        when(col("__nb1") =!= col("positive"), col("__nb1"))
          .otherwise(col("__nb2")).as("negative"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(out == naive, "bucketed ring rank must equal the global-window ring")
  }

  test("perplexity buckets: bucketed prefix-sum rank == single per-stratum window") {
    import graft.ops.LangModel
    import org.apache.spark.sql.expressions.Window
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getString(5))).sortBy(t => (t._2, t._1)).toSeq
    // exactWindowMaxRows = 0 FORCES the bucketed path (the adaptive gate
    // would route this test-sized corpus to the window form and make the
    // identity vacuous)
    val out = canon(LangModel.perplexityBuckets(
      docs, "doc_id", "text", "source", 3, 64, 0L).collect())
    // a skewed range count must not change results (ranges only balance work)
    val out7 = canon(LangModel.perplexityBuckets(
      docs, "doc_id", "text", "source", 3, 7, 0L).collect())
    // the gate's default (window path at this scale) must agree too
    val outGated = canon(LangModel.perplexityBuckets(
      docs, "doc_id", "text", "source").collect())
    // naive replica: per-stratum global window (the pre-r9 shape)
    val scored = LangModel.perplexityScore(docs, docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val byPpl = Window.partitionBy(col("source"))
      .orderBy(col("cross_entropy").asc, col("doc_id").asc)
    val nW = Window.partitionBy(col("source"))
    val naive = canon(scored
      .withColumn("__rn", row_number().over(byPpl).cast("long"))
      .withColumn("__cnt", count(lit(1)).over(nW))
      .withColumn("bucket", least(lit(2L),
        floor((col("__rn") - 1L) * 3 / col("__cnt"))))
      .withColumn("band", element_at(typedlit(Seq("head", "middle", "tail")),
        (col("bucket") + 1).cast("int")))
      .select(col("doc_id"), col("source"), col("n_transitions"),
        col("cross_entropy"), col("bucket"), col("band"))
      .collect())
    assert(out == naive, "bucketed per-stratum rank must equal the window form")
    assert(out7 == naive, "rank identity must hold for any rankBuckets")
    assert(outGated == naive, "the adaptive gate must never change results")
  }

  test("BFD packing: capacity respected, beats greedy on a crafted case, fewer-or-equal bins on the corpus") {
    import spark.implicits._
    // crafted: greedy in id order needs 3 bins, BFD packs into 2
    val crafted = Seq((1L, 6L), (2L, 5L), (3L, 4L), (4L, 3L), (5L, 2L))
      .toDF("id", "nt").withColumn("g", lit("g"))
    def bins(df: org.apache.spark.sql.DataFrame) =
      df.select("seq_id").distinct().count()
    val bfd = TextAnalysis.packSequencesBFD(crafted, "id", "nt", col("g"), 10)
    val greedy = TextAnalysis.packSequences(crafted, "id", "nt", col("g"), 10)
    assert(bins(greedy) == 3 && bins(bfd) == 2,
      s"crafted case: greedy ${bins(greedy)}, bfd ${bins(bfd)}")
    // shared invariants on the real corpus
    val docsNt = docs.select(col("doc_id"),
      size(TextAnalysis.words(col("text"))).cast("long").as("nt"),
      col("source"))
    val maxTok = 200
    val packed = TextAnalysis.packSequencesBFD(docsNt, "doc_id", "nt",
      col("source"), maxTok)
    val rows = packed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == docsNt.count(), "every doc placed exactly once")
    rows.groupBy(t => (t._1, t._4)).foreach { case ((g, sq), members) =>
      val tot = members.map(_._3).sum
      assert(tot <= maxTok || members.length == 1,
        s"sequence ($g,$sq) holds $tot > $maxTok tokens")
      assert(members.map(_._5).sorted.toSeq == (0L until members.length).toSeq,
        s"sequence ($g,$sq) positions not dense")
    }
    // packing quality: never more sequences than greedy, per group
    val gBins = TextAnalysis.packSequences(docsNt, "doc_id", "nt",
        col("source"), maxTok)
      .groupBy("grp").agg(countDistinct(col("seq_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bBins = packed.groupBy("grp").agg(countDistinct(col("seq_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bBins.forall { case (g, n) => n <= gBins(g) },
      s"BFD must never need more bins: $bBins vs $gBins")
  }

  test("BFD packing invariants hold on 100 random groups in one pass") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cap = 64
    val rows = (0 until 100).flatMap { g =>
      (0 until (5 + rnd.nextInt(40))).map { i =>
        (s"g$g", g * 1000L + i, 1L + rnd.nextInt(cap)) // sizes 1..cap
      }
    }
    val packed = TextAnalysis.packSequencesBFD(
      rows.toDF("g", "id", "nt"), "id", "nt", col("g"), cap)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(packed.length == rows.length, "every row placed exactly once")
    assert(packed.map(_._2).distinct.length == rows.length)
    packed.groupBy(t => (t._1, t._4)).foreach { case ((g, sq), m) =>
      assert(m.map(_._3).sum <= cap, s"($g,$sq) over capacity")
      assert(m.map(_._5).sorted.toSeq == (0L until m.length).toSeq,
        s"($g,$sq) positions not dense")
    }
    // waste bounds: bins >= ceil(volume/cap), and the classic best-fit
    // theorem — at most ONE bin of the final packing is <= half full, so
    // volume > (bins-1) * cap/2
    packed.groupBy(_._1).foreach { case (g, m) =>
      val vol = m.map(_._3).sum
      val bins = m.map(_._4).distinct.length
      assert(bins >= math.ceil(vol.toDouble / cap).toInt, s"$g impossible packing")
      assert(vol * 2 > (bins - 1).toLong * cap,
        s"$g: $bins bins for volume $vol — more than one half-empty bin")
    }
  }

  test("corpus diff: added/removed/changed/same classification") {
    import spark.implicits._
    val v1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val v2 = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta")).toDF("doc_id", "text")
    val m = graft.ops.Report.corpusDiff(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "same", 2L -> "changed", 3L -> "removed", 4L -> "added"), m.toString)
  }

  test("gram decontamination: full copies dirty, prefix-grams partial, rewrites clean, short docs clean") {
    import spark.implicits._
    val mk = (i: Int, words: Seq[String]) => (i.toLong, words.mkString(" "))
    val base = (1 to 30).map(j => s"w$j") // 30-word train doc
    val train = Seq(mk(1, base), mk(2, (1 to 20).map(j => s"v$j"))).toDF("doc_id", "text")
    val eval = Seq(
      mk(10, base),                                         // exact copy: all 18 grams dirty
      mk(11, base.take(15) ++ Seq("zz1", "zz2", "zz3", "zz4", "zz5")),
      //  ^ 20 words, 8 grams; only the 3 fully inside the prefix match
      mk(12, (1 to 30).map(j => s"u$j")),                   // disjoint vocab: clean
      mk(13, base.take(12))                                 // 12 words < n: zero grams
    ).toDF("eval_id", "text")
    val out = graft.ops.Dedup.gramContamination(train, "doc_id", "text",
        eval, "eval_id", "text", n = 13)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(10L) == ((18L, 18L, true)), s"exact copy: ${out(10L)}")
    assert(out(11L) == ((8L, 3L, true)), s"prefix overlap: ${out(11L)}")
    assert(out(12L) == ((18L, 0L, false)), s"disjoint vocab: ${out(12L)}")
    assert(out(13L) == ((0L, 0L, false)), s"short doc: ${out(13L)}")
  }

  test("gram decontamination containment property + plan shape (train side broadcast-filtered)") {
    import spark.implicits._
    // containment: ANY contiguous >=13-word slice of a train doc is fully
    // matched — its grams are a subset of the train doc's grams
    val words = (1 to 40).map(j => s"t$j")
    val train = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val slices = (0 to 20 by 5).map { off =>
      (100L + off, words.slice(off, off + 15).mkString(" "))
    }.toDF("eval_id", "text")
    val out = graft.ops.Dedup.gramContamination(train, "doc_id", "text",
      slices, "eval_id", "text", n = 13).collect()
    assert(out.forall(r => r.getLong(1) == 3L && r.getLong(2) == 3L && r.getBoolean(3)),
      s"every 15-word slice has exactly 3 grams, all matched: ${out.mkString(";")}")
    // plan shape: the train-side gram filter is a BROADCAST semi join —
    // the (100 TB) train side must never be shuffled for the membership
    // probe. The checkpointed result hides its plan, so inspect the
    // shape the operator builds internally via a mirror construction.
    val ws = graft.ops.TextAnalysis.words(col("text"))
    def gh(df: org.apache.spark.sql.DataFrame) = df.select(
      when(size(ws) >= 13, array_distinct(transform(
        transform(sequence(lit(0), size(ws) - 13),
          i => concat_ws(" ", slice(ws, i + 1, lit(13)))), g => xxhash64(g))))
        .otherwise(array().cast("array<long>")).as("gh"))
    val probe = gh(train).select(explode(col("gh")).as("gram"))
      .join(broadcast(gh(slices).select(explode(col("gh")).as("gram")).distinct()),
        Seq("gram"), "left_semi")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"train-side membership probe must be a broadcast semi join:\n$plan")
  }

  /** Persistent RDD ids of the pins `df` reads: the memory-held pinned
    * leaves of its cache-substituted plan (a reliable checkpoint holds
    * none — its blocks are files).
    */
  private def pinIds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    org.apache.spark.sql.graft.bridge.useCachedData(spark, df.queryExecution.analyzed)
      .collectWithSubqueries {
        case l: LogicalRDD => l.rdd
        case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
          m.cacheBuilder.cachedColumnBuffers
      }
      .filter(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
      .map(_.id).toSet
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("materialize modes (local/reliable/persist) yield identical operator results") {
    import graft.ops.{Graph, Learn, Materialize}
    val conf = spark.conf
    val ckpt = java.nio.file.Files.createTempDirectory("graft-reliable-ckpt").toString
    val n = docs.count()
    val edges = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 1) % n).as("dst"))
      .filter(col("src") =!= col("dst"))
    val pairs = Dedup.ngramJaccardNearDups(planted, "doc_id", "text",
      blockCol = col("source"), threshold = 0.5)
    val names = docs.select(col("doc_id"), substring(trim(col("text")), 1, 24).as("nm"))
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minhashNearDups" -> (() =>
        Dedup.minhashNearDups(planted, "doc_id", "text", threshold = 0.5)),
      "winnowNearDups" -> (() => Dedup.winnowNearDups(planted, "doc_id", "text")),
      "editDistanceNearDups" -> (() =>
        Dedup.editDistanceNearDups(names, "doc_id", "nm", k = 2)),
      "dupClusters" -> (() => Dedup.dupClusters(pairs)),
      "pageRank" -> (() => Graph.pageRank(edges, docs.select(col("doc_id").as("id")),
        iterations = 10)),
      "perceptronClassify" -> (() => Learn.perceptronClassify(docs, "doc_id", "text",
        col("source") === "src0")))
    // Pin accounting compares SETS of persistent RDD ids: a concurrent GC
    // can only drop older pins, never add or remove this call's.
    def checkedRun(mode: String): Map[String, Set[String]] = {
      val results = ops.map { case (name, op) =>
        val before = persistentIds
        val out = op()
        val added = persistentIds -- before
        assert(added == pinIds(out),
          s"$mode $name: left pins $added, returned frame reads ${pinIds(out)}")
        if (mode != "reliable") assert(added.size == 1, s"$mode $name: pins $added")
        val rows = out.collect().map(_.toString).toSet
        Materialize.release(out)
        assert((persistentIds -- before).isEmpty, s"$mode $name: release left pins")
        name -> rows
      }.toMap
      val before = persistentIds
      Dedup.saveMinhashIndex(docs, "doc_id", "text",
        java.nio.file.Files.createTempDirectory("graft-pin-idx").toString,
        numFiles = 2)
      assert((persistentIds -- before).isEmpty, s"$mode saveMinhashIndex left pins")
      Learn.perceptronWeights(docs, "doc_id", "text", col("source") === "src0")
      assert((persistentIds -- before).isEmpty, s"$mode perceptronWeights left pins")
      // a throwing body still releases what it pinned
      intercept[IllegalStateException] {
        Materialize.scoped {
          val c = Materialize.cache(docs.select(col("doc_id")))
          c.count()
          Materialize(c.select((col("doc_id") + 1).as("x")))
          throw new IllegalStateException("boom")
        }
      }
      assert((persistentIds -- before).isEmpty, s"$mode: a throwing scope left pins")
      // a pin returned from a nested scope survives it; the outer releases it
      Materialize.scoped {
        val inner = Materialize.scoped {
          val c = Materialize.cache(docs.select((col("doc_id") * 3).as("y")))
          c.count()
          c
        }
        assert(pinIds(inner).size == 1 && pinIds(inner).subsetOf(persistentIds),
          s"$mode: the nested scope released the pin it returned")
        assert(inner.count() == n)
      }
      assert((persistentIds -- before).isEmpty, s"$mode: the outer scope kept a pin")
      results
    }
    try {
      val local = checkedRun("local") // default mode
      conf.set(Materialize.ModeKey, "reliable")
      // no checkpoint dir set anywhere -> must THROW, not silently degrade
      // (guarded: another suite in this JVM may have set one on the shared context)
      val hadDir = spark.sparkContext.getCheckpointDir.isDefined
      if (!hadDir) assertThrows[IllegalStateException] {
        Dedup.minhashNearDups(planted, "doc_id", "text", threshold = 0.5)
      }
      conf.set(Materialize.DirKey, ckpt)
      val reliable = checkedRun("reliable")
      // reliable blocks must actually be on the durable dir, not executor-local
      if (!hadDir)
        assert(java.nio.file.Files.list(java.nio.file.Paths.get(ckpt)).count() > 0,
          "reliable mode wrote nothing to the checkpoint dir")
      conf.set(Materialize.ModeKey, "persist")
      val persisted = checkedRun("persist")
      for ((name, rows) <- local)
        assert(reliable(name) == rows && persisted(name) == rows,
          s"materialize mode changed $name output")
    } finally {
      conf.set(Materialize.ModeKey, "local")
      conf.unset(Materialize.DirKey)
    }
  }
}
