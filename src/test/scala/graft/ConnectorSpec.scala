package graft

import graft.api.Ripple
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** End-to-end tests of the `ripple` DSv2 connector: produce (SURVEY A3),
  * scan/AskQuery (A8), offset commit (A9), subscribe (A7), discovery (A12).
  */
class ConnectorSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-connector-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("ripple").toString

  private def samplePayloads(n: Int, idOffset: Int = 0): DataFrame = {
    import spark.implicits._
    (idOffset until idOffset + n).map(i => (i, s"msg-$i".getBytes("UTF-8")))
      .toDF("id", "data")
  }

  test("batch write → batch read round-trip preserves payloads") {
    val root = tmp()
    Ripple.createTopic(root, "t1", numBuckets = 3)
    Ripple.write(samplePayloads(100), root, "t1", numBuckets = 3)

    val back = Ripple.read(spark, root, "t1")
    assert(back.count() == 100)
    assert(back.select("id").as[Int](org.apache.spark.sql.Encoders.scalaInt)
      .collect().sorted.toSeq == (0 until 100))
    val m = back.filter(col("id") === 7).select(col("data").cast("string"))
      .collect().head.getString(0)
    assert(m == "msg-7")
    // deterministic routing: id % numBuckets
    val buckets = back.filter(col("id") === 7).select("bucket").collect().head.getString(0)
    assert(buckets == "b0001")
  }

  test("per-bucket offsets are dense and ordered") {
    val root = tmp()
    Ripple.createTopic(root, "t2", numBuckets = 2)
    Ripple.write(samplePayloads(20), root, "t2", numBuckets = 2)
    Ripple.write(samplePayloads(20), root, "t2", numBuckets = 2) // second append

    val per = Ripple.read(spark, root, "t2")
      .groupBy("bucket").agg(count("*").as("n"), min("offset").as("lo"), max("offset").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(per == Seq(("b0000", 20L, 0L, 19L), ("b0001", 20L, 0L, 19L)))
  }

  test("offset-range replay returns exactly the suffix (consumer replay, core.go:46-64)") {
    val root = tmp()
    Ripple.createTopic(root, "t3", numBuckets = 1)
    Ripple.write(samplePayloads(10), root, "t3", numBuckets = 1)
    Ripple.write(samplePayloads(10), root, "t3", numBuckets = 1)

    val suffix = Ripple.readRange(spark, root, "t3", from = 15, until = Long.MaxValue)
    assert(suffix.select("offset").collect().map(_.getLong(0)).sorted.toSeq == (15L until 20L))
    val window = Ripple.readRange(spark, root, "t3", from = 3, until = 7)
    assert(window.select("offset").collect().map(_.getLong(0)).sorted.toSeq == (3L until 7L))
  }

  test("offset predicate pushdown prunes segments from the plan") {
    val root = tmp()
    Ripple.createTopic(root, "t4", numBuckets = 1)
    // coalesce(1): one staged file per append → exactly 5 segments of 10
    (1 to 5).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "t4", numBuckets = 1))

    val df = Ripple.read(spark, root, "t4").filter(col("offset") >= 40L)
    assert(df.count() == 10)
    // physical plan should carry the scan description with narrowed bounds
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ripple"), plan)
    assert(df.rdd.getNumPartitions == 1,
      s"expected 1 surviving segment partition, got ${df.rdd.getNumPartitions}")
  }

  test("limit pushdown plans only the segments that cover the limit") {
    val root = tmp()
    Ripple.createTopic(root, "t4l", numBuckets = 1)
    // 5 segments of 10 rows each
    (1 to 5).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "t4l", numBuckets = 1))

    val limited = Ripple.read(spark, root, "t4l").limit(7)
    val scan = limited.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.inputRDDs().head.getNumPartitions == 1,
      s"LIMIT 7 should plan exactly one segment slice, got " +
        s"${scan.inputRDDs().head.getNumPartitions}")
    assert(scan.toString.contains("limit=7"), scan.toString)
    assert(limited.count() == 7)
    // limit larger than one segment spans exactly the needed slices
    val two = Ripple.read(spark, root, "t4l").limit(15)
    val scan2 = two.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan2.inputRDDs().head.getNumPartitions == 2)
    assert(two.count() == 15)
    // un-limited read still plans all 5 segments
    assert(Ripple.read(spark, root, "t4l").rdd.getNumPartitions == 5)
  }

  test("COUNT(*) is answered from segment metadata without reading frames") {
    val root = tmp()
    Ripple.createTopic(root, "cnt", numBuckets = 2)
    (1 to 2).foreach(_ => Ripple.write(samplePayloads(20), root, "cnt", numBuckets = 2))

    val counted = Ripple.read(spark, root, "cnt").groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-agg"),
      s"COUNT(*) should plan the metadata scan:\n$plan")
    assert(counted.collect().head.getLong(0) == 40L)

    // pushed offset bounds clamp the metadata arithmetic per bucket:
    // each bucket holds [0,20); range [5,15) → 10 rows × 2 buckets
    val ranged = Ripple.readRange(spark, root, "cnt", from = 5, until = 15)
      .groupBy().count()
    assert(ranged.queryExecution.executedPlan.toString.contains("metadata-agg"))
    assert(ranged.collect().head.getLong(0) == 20L)

    // an offset FILTER is fully pushed, so the count stays metadata-only
    val filtered = Ripple.read(spark, root, "cnt")
      .filter(col("offset") >= 12L).groupBy().count()
    assert(filtered.queryExecution.executedPlan.toString.contains("metadata-agg"))
    assert(filtered.collect().head.getLong(0) == 16L)

    // a NON-pushable predicate must fall back to the real scan
    val fallback = Ripple.read(spark, root, "cnt")
      .filter(col("id") % 2 === 0).groupBy().count()
    assert(!fallback.queryExecution.executedPlan.toString.contains("metadata-agg"))
    assert(fallback.collect().head.getLong(0) == 20L)
  }

  test("runtime filtering narrows planned buckets (DPP unit contract)") {
    val root = tmp()
    Ripple.createTopic(root, "rf1", numBuckets = 4)
    Ripple.write(samplePayloads(40), root, "rf1", numBuckets = 4)

    val conf = graft.connector.RippleConf(root, "rf1", None, 4, 0L,
      Long.MaxValue, Long.MaxValue)
    val scan = new graft.connector.RippleScanBuilder(conf).build()
      .asInstanceOf[graft.connector.RippleScan]
    // BatchScanExec order: the Batch exists BEFORE the runtime filter lands
    def bucketsOf(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.map(_.asInstanceOf[graft.connector.RippleInputPartition].bucket).toSet
    val batch = scan.toBatch
    val before = batch.planInputPartitions()
    assert(bucketsOf(before) == Set("b0000", "b0001", "b0002", "b0003"))
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("bucket", Array("b0001", "b0003"))))
    val pruned = batch.planInputPartitions()
    assert(bucketsOf(pruned) == Set("b0001", "b0003"),
      s"expected only the filtered buckets, got ${bucketsOf(pruned)}")
    assert(pruned.length < before.length)
    // a runtime filter the scan can't use is ignored, not dropped rows
    val scan2 = new graft.connector.RippleScanBuilder(conf).build()
      .asInstanceOf[graft.connector.RippleScan]
    scan2.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("id", Array(1, 2))))
    assert(scan2.toBatch.planInputPartitions().length == before.length)
  }

  test("join on bucket triggers dynamic pruning end-to-end") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "rf2", numBuckets = 4)
    // the topic side must exceed autoBroadcastJoinThreshold (10 MB): now
    // that the scan reports manifest stats, a tiny topic would itself
    // become the broadcast side and reuse-only DPP would degrade to a
    // no-op (at production scale the fact side is never broadcastable)
    val fat = (0 until 4000).map(i => (i, Array.fill(4096)('x'.toByte)))
      .toDF("id", "data")
    Ripple.write(fat, root, "rf2", numBuckets = 4)

    // the PartitionPruning rule only injects a DPP subquery when the build
    // side carries a SELECTIVE predicate — and a filter over a local
    // relation constant-folds away before the rule runs, so the dim must
    // be file-backed for the Filter node to survive into optimization
    val dimPath = tmp() + "/dim.parquet"
    Seq(("b0002", "keep"), ("b0009", "drop")).toDF("bucket", "tag")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val joined = Ripple.read(spark, root, "rf2")
      .join(dim, "bucket")
      .select(col("bucket"), col("id"), col("tag"))
    val rows = joined.collect()
    // id % 4 == 2 routes to b0002: ids 2, 6, ..., 3998
    assert(rows.length == 1000)
    assert(rows.map(_.getInt(1)).sorted.toSeq == (2 until 4000 by 4))
    // AQE wraps pipeline fragments in QueryStageExec LEAVES — recurse into
    // their stage plans to reach the BatchScanExec
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[graft.connector.RippleScan] = {
      val here = p match {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match { case s: graft.connector.RippleScan => Seq(s); case _ => Nil }
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansIn(q.plan)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case _ => Nil
      }
      here ++ p.children.flatMap(scansIn)
    }
    val scans = scansIn(joined.queryExecution.executedPlan)
    assert(scans.nonEmpty,
      s"no ripple scan in the executed plan:\n${joined.queryExecution.executedPlan}")
    assert(scans.exists(_.runtimeBuckets == Some(Set("b0002"))),
      s"runtime filter not delivered: ${scans.map(_.runtimeBuckets)}\n" +
        s"OPTIMIZED:\n${joined.queryExecution.optimizedPlan}\n" +
        s"EXECUTED:\n${joined.queryExecution.executedPlan}")
  }

  test("manifest-backed statistics make small topics broadcastable") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "st1", numBuckets = 2)
    Ripple.write(samplePayloads(50), root, "st1", numBuckets = 2)

    val conf = graft.connector.RippleConf(root, "st1", None, 2, 0L,
      Long.MaxValue, Long.MaxValue)
    val scan = new graft.connector.RippleScanBuilder(conf).build()
      .asInstanceOf[graft.connector.RippleScan]
    val st = scan.estimateStatistics()
    assert(st.numRows.getAsLong == 50)
    assert(st.sizeInBytes.getAsLong > 0)

    // stats reflect pushed offset bounds: [10, 20) per bucket × 2 buckets
    val nb = new graft.connector.RippleScanBuilder(conf)
    nb.pushFilters(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual("offset", 10L),
      org.apache.spark.sql.sources.LessThan("offset", 20L)))
    val narrowed = nb.build().asInstanceOf[graft.connector.RippleScan]
    assert(narrowed.estimateStatistics().numRows.getAsLong == 20)
    assert(narrowed.estimateStatistics().sizeInBytes.getAsLong <
      st.sizeInBytes.getAsLong)

    // the INITIAL physical plan (pre-AQE, i.e. pure stats-driven join
    // selection) must broadcast the tiny topic side — without reported
    // stats a DSv2 relation weighs Long.MaxValue and can never broadcast
    val big = spark.range(0, 10000).select(col("id").cast("int").as("id"))
    val joined = big.join(Ripple.read(spark, root, "st1").select("id", "offset"), "id")
    val initial = joined.queryExecution.sparkPlan
    val bcastSides = initial.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        b.buildSide.toString
    }
    assert(bcastSides.nonEmpty, s"expected a broadcast join:\n$initial")
    assert(initial.toString.contains("ripple"), initial.toString)
    assert(joined.count() == 50)
  }

  test("streaming sink: writeStream into topic is exactly-once per epoch") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "s1", numBuckets = 2)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    // data first: an AvailableNow query fixes its end offset at start, so
    // rows added after start() may or may not be in its one epoch
    mem.addData(1 to 50: _*)
    val q = mem.toDS().toDF("n")
      .select(col("n").cast("int").as("id"),
        concat(lit("ev-"), col("n")).cast("binary").as("data"))
      .writeStream.format("ripple")
      .option("path", root).option("topic", "s1").option("buckets", 2)
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000)

    val back = Ripple.read(spark, root, "s1")
    assert(back.count() == 50)
    assert(back.select(sum(col("id"))).collect().head.getLong(0) == (1 to 50).sum)
  }

  test("streaming source: micro-batches advance with appends; rate limit respected") {
    val root = tmp()
    Ripple.createTopic(root, "s2", numBuckets = 2)
    Ripple.write(samplePayloads(30), root, "s2", numBuckets = 2)

    val stream = Ripple.readStream(spark, root, "s2", maxOffsetsPerTrigger = 10)
    val q = stream.writeStream.format("memory").queryName("s2out")
      .option("checkpointLocation", tmp())
      .trigger(Trigger.ProcessingTime("50 milliseconds")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("s2out").count() == 30)
      // rate limit: no micro-batch carried more than 10 rows
      val batchSizes = spark.table("s2out").groupBy().count() // total check done
      Ripple.write(samplePayloads(15), root, "s2", numBuckets = 2)
      q.processAllAvailable()
      assert(spark.table("s2out").count() == 45)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains in rate-capped epochs, then stops") {
    val root = tmp()
    Ripple.createTopic(root, "an", numBuckets = 2)
    Ripple.write(samplePayloads(40), root, "an", numBuckets = 2)
    val q = Ripple.readStream(spark, root, "an", maxOffsetsPerTrigger = 10)
      .writeStream.format("memory").queryName("anout")
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow query did not finish")
    assert(spark.table("anout").count() == 40)
    // without SupportsTriggerAvailableNow Spark degrades to Trigger.Once:
    // ONE epoch, row cap ignored — assert the capped multi-epoch drain
    val eps = q.recentProgress.filter(_.numInputRows > 0)
    assert(eps.length >= 4, s"expected >=4 capped epochs, got ${eps.length}")
    assert(eps.forall(_.numInputRows <= 10),
      s"epoch exceeded the 10-row cap: ${eps.map(_.numInputRows).mkString(",")}")
  }

  test("AvailableNow pins the drain target: appends after prepare are not consumed") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val root = tmp()
    Ripple.createTopic(root, "fz", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "fz", numBuckets = 1)
    val conf = graft.connector.RippleConf(root, "fz", None, 1, 0L,
      Long.MaxValue, Long.MaxValue)
    val stream = new graft.connector.RippleMicroBatchStream(conf,
      graft.model.Schemas.envelope)
    stream.prepareForTriggerAvailableNow()
    // lands AFTER the pin — a correct AvailableNow drain must not see it
    Ripple.write(samplePayloads(5).coalesce(1), root, "fz", numBuckets = 1)
    var cur = stream.initialOffset()
    var steps = 0
    var progressed = true
    while (progressed && steps < 10) {
      val next = stream.latestOffset(cur, ReadLimit.maxRows(3))
      progressed = next.asInstanceOf[graft.connector.RippleOffset].ends !=
        cur.asInstanceOf[graft.connector.RippleOffset].ends
      if (progressed) { cur = next; steps += 1 }
    }
    assert(cur.asInstanceOf[graft.connector.RippleOffset].ends == Map("b0000" -> 10L),
      s"drain target must stay pinned at the 10 pre-pin rows: $cur")
    assert(steps == 4, s"10 rows at cap 3 = 4 epochs (3+3+3+1), got $steps")
    // a fresh (un-pinned) stream sees the live end
    val live = new graft.connector.RippleMicroBatchStream(conf,
      graft.model.Schemas.envelope)
    assert(live.reportLatestOffset().asInstanceOf[graft.connector.RippleOffset]
      .ends == Map("b0000" -> 15L))
  }

  test("two streaming queries = two consumer IDs, each replays the full log (A7 fan-out)") {
    val root = tmp()
    Ripple.createTopic(root, "s3", numBuckets = 1)
    Ripple.write(samplePayloads(25), root, "s3", numBuckets = 1)

    def run(name: String): Long = {
      val q = Ripple.readStream(spark, root, "s3")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp()).start()
      try { q.processAllAvailable(); spark.table(name).count() }
      finally q.stop()
    }
    assert(run("c1") == 25)
    assert(run("c2") == 25) // independent checkpoint → full replay
  }

  test("lift: JSON payloads become queryable columns (from_json value-add)") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "t5", numBuckets = 2)
    val src = (0 until 40).map(i => (i.toLong, s"u$i", i * 1.5))
      .toDF("k", "name", "score")
    Ripple.write(Ripple.pack(src, col("k")), root, "t5", numBuckets = 2)

    val lifted = Ripple.lift(Ripple.read(spark, root, "t5"),
      StructType(Seq(
        StructField("k", LongType), StructField("name", StringType),
        StructField("score", DoubleType))))
    assert(lifted.count() == 40)
    assert(lifted.agg(sum("k")).collect().head.getLong(0) == (0 until 40).map(_.toLong).sum)
    assert(lifted.filter(col("name") === "u3").select("score").collect().head.getDouble(0) == 4.5)
  }

  test("concurrent writers: all rows land, offsets stay dense") {
    val root = tmp()
    Ripple.createTopic(root, "cw", numBuckets = 2)
    val threads = (0 until 4).map { t =>
      new Thread(() =>
        Ripple.write(samplePayloads(25).coalesce(1), root, "cw"))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val back = Ripple.read(spark, root, "cw")
    assert(back.count() == 100)
    val per = back.groupBy("bucket")
      .agg(count("*").as("n"), countDistinct("offset").as("d"), max("offset").as("m"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    per.foreach { case (n, d, m) => assert(n == d && m == n - 1, per.mkString(",")) }
  }

  // storage-plane paths are Hadoop paths; tests poke them via java.nio
  private def nio(p: org.apache.hadoop.fs.Path): java.nio.file.Path =
    java.nio.file.Paths.get(p.toUri)

  private def hp(parent: org.apache.hadoop.fs.Path, name: String): java.nio.file.Path =
    nio(new org.apache.hadoop.fs.Path(parent, name))

  test("root may be a file: URI — the storage plane is Hadoop-FS addressed") {
    // Same protocol, explicitly URI-addressed: what a cluster deployment
    // does with hdfs://nn/ripple, exercised here over file:/ (TestCase for
    // VERDICT r8 finding #1 — the plane must not require a POSIX path).
    val root = "file:" + tmp()
    Ripple.createTopic(root, "uri", numBuckets = 2)
    Ripple.write(samplePayloads(40), root, "uri", numBuckets = 2)
    val back = Ripple.read(spark, root, "uri")
    assert(back.count() == 40)
    assert(back.agg(sum("id")).collect().head.getLong(0) == (0 until 40).sum.toLong)
    // offset pushdown and metadata discovery unaffected by URI addressing
    assert(back.where(col("offset") >= 5).count() == 30)
    assert(Ripple.topics(root) == Seq("uri"))
    assert(Ripple.endOffsets(root, "uri") == Map("b0000" -> 20L, "b0001" -> 20L))
    // append again via the URI root: offsets continue, no relayout
    Ripple.write(samplePayloads(10), root, "uri", numBuckets = 2)
    assert(Ripple.read(spark, root, "uri").count() == 50)
  }

  test("non-atomic-rename scheme takes the conditional-PUT commit arm and just works") {
    // r8 refused these schemes outright; the commit log runs on them
    // unchanged — the listed scheme only picks put-if-absent's
    // create(overwrite = false) arm instead of temp + rename
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.natest.impl", classOf[NonAtomicTestFs].getName)
    conf.set("graft.log.nonAtomicRenameSchemes", "natest")
    val dir = tmp()
    val log = new graft.log.FileTopicLog("natest:" + dir, conf)
    assert(!graft.log.LogFs.atomicRename(log.fs), "listed scheme must be non-atomic")
    val tb = graft.model.TopicBucket("nat", "b0000")
    log.append(tb, (0 until 3).map(i => graft.model.Payload(i, Array[Byte](i.toByte))))
    log.append(tb, (3 until 5).map(i => graft.model.Payload(i, Array[Byte](i.toByte))))
    assert(log.range(tb, 0, 10).map(_.id) == (0 until 5))
    assert(log.range(tb, 0, 10).map(_.offset) == (0L until 5L))
  }

  test("connector round-trip + epoch-replay exactly-once over the object-store rig") {
    // the full DSv2 write/read path on a store with no atomic rename and
    // PUT-visibility-at-close (ObjectStoreTestFs): publish goes through the
    // manifest commit protocol end to end
    spark.sparkContext.hadoopConfiguration
      .set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    val root = "ostest:" + tmp()
    Ripple.createTopic(root, "os", numBuckets = 2)
    Ripple.write(samplePayloads(40), root, "os", numBuckets = 2)
    val back = Ripple.read(spark, root, "os")
    assert(back.count() == 40)
    assert(back.groupBy("bucket").count().collect().map(_.getLong(1)).toSeq == Seq(20L, 20L))
    // offset pushdown still plans from the committed state
    assert(back.where(col("offset") >= 10).count() == 20)
    // append again: offsets continue across commits
    Ripple.write(samplePayloads(10), root, "os", numBuckets = 2)
    assert(Ripple.read(spark, root, "os").count() == 50)
    assert(Ripple.endOffsets(root, "os") == Map("b0000" -> 25L, "b0001" -> 25L))
    // epoch replay: re-publishing the same epoch must be a no-op (the
    // streaming sink's exactly-once contract, here via the commit log)
    import graft.connector.{RippleConf, RipplePublish, RippleCommitMessage}
    val conf = RippleConf(root, "os", None, 2, 0L, Long.MaxValue, Long.MaxValue)
    val log = conf.log
    val fs = log.fs
    def stageEpoch(): Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val p = new org.apache.hadoop.fs.Path(root + "/os/.staging/ep-" + java.util.UUID.randomUUID())
      graft.log.SegmentCodec.write(fs, p,
        (0 until 5).map(i => (graft.model.Payload(i, Array[Byte](i.toByte)), 1000L + i)))
      Array(RippleCommitMessage(Seq(SegFacts.stagedFile(fs, "b0000", p.toString, 0))))
    }
    RipplePublish.publish(conf, stageEpoch(), epochId = Some(7L), queryId = "q-os")
    val afterFirst = Ripple.read(spark, root, "os").count()
    RipplePublish.publish(conf, stageEpoch(), epochId = Some(7L), queryId = "q-os") // replay
    assert(Ripple.read(spark, root, "os").count() == afterFirst,
      "replayed epoch must not duplicate rows")
    assert(afterFirst == 55)
  }

  test("a reader planned before compaction re-resolves its offsets afterwards") {
    // planning hands tasks segment PATHS; in-place compaction deletes the
    // planned files — the partition reader must fall back to resolving its
    // OFFSET RANGE against the current segment view (offsets are the
    // stable identity), so in-flight queries survive a concurrent compact
    val root = tmp()
    Ripple.createTopic(root, "cp", numBuckets = 1)
    (0 until 4).foreach(_ => Ripple.write(samplePayloads(5).coalesce(1), root, "cp"))
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    val tb = graft.model.TopicBucket("cp", "b0000")
    val plannedSegs = log.segments(tb) // the pre-compaction plan's view
    assert(plannedSegs.size == 4)
    assert(Ripple.compactSegments(root, "cp") == 4)
    // replay the stale plan: partitions carrying the DELETED paths
    val hb = graft.log.LogFs.activeBroadcast
    val rows = plannedSegs.flatMap { case (path, start, count) =>
      val p = graft.connector.RippleInputPartition(root, "cp", "b0000",
        path.toString, start, start, start + count)
      val r = new graft.connector.RipplePartitionReader(p,
        graft.model.Schemas.envelope, hb, lift = false, timeZoneId = "UTC")
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
      try while (r.next()) {
        val row = r.get()
        out += ((row.getLong(2), row.getInt(3))) // (offset, id)
      } finally r.close()
      out
    }
    assert(rows.map(_._1) == (0L until 20L), s"stale plan must replay fully: $rows")
    assert(rows.map(_._2) == List.tabulate(20)(i => i % 5))
    // a range retention actually removed stays a loud failure
    assert(log.truncateBefore("cp", 20L) == 0, "single merged segment is newest — kept")
  }

  test("overlapping segments (contract violation) fail loudly, not silently") {
    val root = tmp()
    Ripple.createTopic(root, "ov", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "ov")
    // forge an overlapping segment: starts inside the existing [0,10),
    // committed straight to the commit log (publish refuses overlaps, so
    // only a writer outside the protocol can produce one)
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    val tb = graft.model.TopicBucket("ov", "b0000")
    val forged = graft.log.SegmentCodec.dataName(5L, 3L)
    graft.log.SegmentCodec.write(log.fs, new org.apache.hadoop.fs.Path(log.bucketDir(tb), forged),
      (0 until 3).map(i => (graft.model.Payload(i, Array[Byte]()), 0L)))
    val cl = log.commitLog(tb)
    assert(cl.tryCommit(cl.read(), Seq(SegFacts.meta(forged, 5L, 3L)), Set.empty).isDefined)
    val e = intercept[Exception] { Ripple.read(spark, root, "ov").count() }
    assert(e.getMessage.contains("overlap") ||
      (e.getCause != null && e.getCause.getMessage.contains("overlap")), e.getMessage)
  }

  test("rate cap is allocated proportionally; every non-empty bucket advances") {
    import graft.connector.{RippleConf, RippleMicroBatchStream, RippleOffset}
    val root = tmp()
    Ripple.createTopic(root, "pr", 4)
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    def fill(bucket: String, n: Int): Unit =
      log.append(graft.model.TopicBucket("pr", bucket),
        (0 until n).map(i => graft.model.Payload(i, Array[Byte](1))))
    fill("b0000", 100); fill("b0001", 10); fill("b0002", 1) // b0003 empty
    val conf = RippleConf(root, "pr", None, 4, 0L, Long.MaxValue, 12L)
    val stream = new RippleMicroBatchStream(conf, graft.model.Schemas.envelope)
    val start = RippleOffset(Map("b0000" -> 0L, "b0001" -> 0L, "b0002" -> 0L, "b0003" -> 0L))
    val end = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(12L))
      .asInstanceOf[RippleOffset].ends
    val adv = end.map { case (b, e) => b -> (e - start.ends(b)) }
    assert(adv.values.sum == 12, adv.toString)
    assert(adv("b0000") > adv("b0001"), adv.toString) // proportional to backlog
    assert(adv("b0001") >= 1 && adv("b0002") >= 1, adv.toString) // no starvation
    assert(adv("b0003") == 0)
    // sustained cap drains the whole topic (round 1 starved b0001/b0002)
    var cur = start
    var steps = 0
    while (steps < 50 && {
      val nxt = stream.latestOffset(cur,
          org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(12L))
        .asInstanceOf[RippleOffset]
      val moved = nxt.ends != cur.ends
      cur = nxt; moved
    }) steps += 1
    assert(cur.ends == Map("b0000" -> 100L, "b0001" -> 10L, "b0002" -> 1L, "b0003" -> 0L))
  }

  test("preferredLocations: stable per-bucket host pinning from preferredHosts") {
    import graft.connector.RippleInputPartition
    val hosts = Array("exec-a", "exec-b", "exec-c")
    def part(bucket: String) =
      RippleInputPartition("/r", "t", bucket, "/r/t/b/seg", 0L, 0L, 10L, hosts)
    // deterministic and stable: same bucket always lands on the same host
    assert(part("b0000").preferredLocations().sameElements(part("b0000").preferredLocations()))
    assert(part("b0000").preferredLocations().length == 1)
    assert(hosts.contains(part("b0000").preferredLocations().head))
    // different buckets spread over hosts (at least two distinct targets)
    val targets = (0 until 8).map(i => part(f"b$i%04d").preferredLocations().head).toSet
    assert(targets.size >= 2, targets.toString)
    // no hosts configured -> no preference
    assert(RippleInputPartition("/r", "t", "b0000", "/r/t/b/seg", 0L, 0L, 10L)
      .preferredLocations().isEmpty)
  }

  test("exactly-once markers are per-query: a second query's epoch 0 still lands") {
    import graft.connector.{RippleCommitMessage, RippleConf, RipplePublish}
    val root = tmp()
    Ripple.createTopic(root, "qm", 1)
    val conf = RippleConf(root, "qm", None, 1, 0L, Long.MaxValue, Long.MaxValue)
    val staging = java.nio.file.Paths.get(root, "qm", ".staging")
    java.nio.file.Files.createDirectories(staging)
    def stage(tag: Byte): Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
      val p = staging.resolve(s"stage-${java.util.UUID.randomUUID()}")
      graft.log.SegmentCodec.write(p,
        (0 until 5).map(i => (graft.model.Payload(i, Array[Byte](tag)), 0L)))
      Array(RippleCommitMessage(Seq(SegFacts.stagedFile(conf.log.fs, "b0000", p.toString, -1))))
    }
    val tb = graft.model.TopicBucket("qm", "b0000")
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    RipplePublish.publish(conf, stage(1), Some(0L), "queryA")
    assert(log.size(tb) == 5)
    // same epoch id, DIFFERENT query: must publish (round-1 data-loss bug)
    RipplePublish.publish(conf, stage(2), Some(0L), "queryB")
    assert(log.size(tb) == 10)
    // same query + same epoch: idempotent replay, still a no-op
    RipplePublish.publish(conf, stage(3), Some(0L), "queryA")
    assert(log.size(tb) == 10)
  }

  test("crash between link and marker: replayed epoch completes, no duplicates") {
    import graft.connector.{RippleCommitMessage, RippleConf, RipplePublish}
    val root = tmp()
    Ripple.createTopic(root, "qr", 1)
    val conf = RippleConf(root, "qr", None, 1, 0L, Long.MaxValue, Long.MaxValue)
    val tb = graft.model.TopicBucket("qr", "b0000")
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    val staging = java.nio.file.Paths.get(root, "qr", ".staging")
    java.nio.file.Files.createDirectories(staging)
    var clock = 0L // each staging pass stamps a different wall clock — the
    // replay path must match frames on (id, data), never raw bytes
    def stage(rows: Seq[graft.model.Payload]): java.nio.file.Path = {
      val p = staging.resolve(s"stage-${java.util.UUID.randomUUID()}")
      clock += 1000L
      graft.log.SegmentCodec.write(p, rows.map(r => (r, clock)))
      p
    }
    def msg(p: java.nio.file.Path, pid: Int) =
      Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
        RippleCommitMessage(Seq(SegFacts.stagedFile(conf.log.fs, "b0000", p.toString, pid))))
    val epoch0 = (0 until 5).map(i => graft.model.Payload(i, Array[Byte](0, i.toByte)))
    RipplePublish.publish(conf, msg(stage(epoch0), 0), Some(0L), "qcrash")
    assert(log.size(tb) == 5)

    // Simulate epoch 1 crashing AFTER intent + link but BEFORE the marker:
    val epoch1 = (0 until 5).map(i => graft.model.Payload(100 + i, Array[Byte](1, i.toByte)))
    val commits = java.nio.file.Paths.get(root, "qr", ".commits", "qcrash")
    java.nio.file.Files.createDirectories(commits)
    java.nio.file.Files.write(commits.resolve("epoch-1.intent"), "b0000 0 5 5".getBytes)
    // the crashed attempt's segment is committed at its planned offsets but
    // no marker landed — exactly the state a crash between link and marker
    // leaves
    log.appendAt(tb, 5L, epoch1.map(r => (r, 0L)))
    assert(log.endOffsetListed(tb) == 10)
    assert(log.size(tb) == 10)

    // Replay of epoch 1: same bytes per (bucket, partitionId), new file name.
    RipplePublish.publish(conf, msg(stage(epoch1), 0), Some(1L), "qcrash")
    assert(log.size(tb) == 10, "replay duplicated the crashed epoch")
    assert(java.nio.file.Files.exists(commits.resolve("epoch-1")))
    assert(!java.nio.file.Files.exists(commits.resolve("epoch-1.intent")))
    val rows = log.range(tb, 0, 100)
    assert(rows.map(_.id) == (0 until 5) ++ (100 until 105))

    // Crash BEFORE any link (intent only): replay links at planned offsets.
    val epoch2 = (0 until 5).map(i => graft.model.Payload(200 + i, Array[Byte](2, i.toByte)))
    java.nio.file.Files.write(commits.resolve("epoch-2.intent"), "b0000 0 10 5".getBytes)
    RipplePublish.publish(conf, msg(stage(epoch2), 0), Some(2L), "qcrash")
    assert(log.size(tb) == 15)
    assert(log.range(tb, 10, 15).map(_.id) == (200 until 205))
  }

  // The same-(start,count) createLink collision itself needs two racing
  // JVMs (publish is driver-synchronized); tools/race_probe.sh covers that.
  // In-process we verify the adjacent invariant: a foreign writer's
  // published segment is never clobbered and our batch lands after it.
  test("foreign pre-published segment is never clobbered; our batch lands after it") {
    import graft.connector.{RippleCommitMessage, RippleConf, RipplePublish}
    val root = tmp()
    Ripple.createTopic(root, "cc", 1)
    val conf = RippleConf(root, "cc", None, 1, 0L, Long.MaxValue, Long.MaxValue)
    val tb = graft.model.TopicBucket("cc", "b0000")
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    // a foreign writer already committed [0,5) with content F
    log.appendAt(tb, 0L,
      (0 until 5).map(i => (graft.model.Payload(i, Array[Byte](9, 9)), 0L)))
    // our writer computed the same start before the foreign publish landed
    val staging = java.nio.file.Paths.get(root, "cc", ".staging")
    java.nio.file.Files.createDirectories(staging)
    val p = staging.resolve("stage-x")
    graft.log.SegmentCodec.write(p,
      (0 until 5).map(i => (graft.model.Payload(100 + i, Array[Byte](1, 1)), 0L)))
    RipplePublish.publish(conf,
      Array[org.apache.spark.sql.connector.write.WriterCommitMessage](
        RippleCommitMessage(Seq(SegFacts.stagedFile(conf.log.fs, "b0000", p.toString, -1)))),
      epochId = None)
    // both batches present: foreign [0,5) intact, ours republished at [5,10)
    assert(log.size(tb) == 10)
    val rows = log.range(tb, 0, 10)
    assert(rows.take(5).forall(_.data.sameElements(Array[Byte](9, 9))))
    assert(rows.drop(5).forall(_.data.sameElements(Array[Byte](1, 1))))
  }

  test("SQL admin surface: SHOW TOPICS / DESCRIBE TOPIC / SHOW CONSUMERS / SHOW SNAPSHOTS / SHOW SCHEMA VERSIONS") {
    val root = tmp()
    Ripple.createTopic(root, "adm", numBuckets = 2)
    Ripple.write(samplePayloads(20), root, "adm", numBuckets = 2)
    Ripple.pinSnapshot(root, "adm", "pin1")
    graft.connector.ConsumerOffsets.commit(root, "adm", "c1", Map("b0000" -> 3L))
    // the statements need a session BUILT with the extension (parsers are
    // baked into sessionState) — a second session on the shared context
    // `.withExtensions` is the programmatic twin of
    // `--conf spark.sql.extensions=graft.GraftExtensions` (that one is a
    // STATIC conf read from the SparkContext at launch — unreachable from
    // a test reusing the suite's context)
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master("local[4]")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.graft.root", root)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // SHOW TOPICS: conf-root fallback
      assert(s.sql("SHOW TOPICS").collect().map(_.getString(0)).contains("adm"))
      // DESCRIBE TOPIC: explicit IN '<root>' wins; per-bucket rows
      val d = s.sql(s"DESCRIBE TOPIC adm IN '$root'").collect()
      assert(d.map(_.getAs[String]("bucket")).sorted.toSeq == Seq("b0000", "b0001"))
      assert(d.map(_.getAs[Long]("rows")).sum == 20L)
      assert(d.forall(_.getAs[String]("consumers") == "c1"))
      // SHOW CONSUMERS: cursor + lag arithmetic + idle accounting
      val c = s.sql("SHOW CONSUMERS FOR adm").collect()
      val c1b0 = c.find(r => r.getAs[String]("consumer") == "c1" &&
        r.getAs[String]("bucket") == "b0000").get
      assert(c1b0.getAs[Long]("committed") == 3L)
      assert(c1b0.getAs[Long]("lag") ==
        d.find(_.getAs[String]("bucket") == "b0000").get.getAs[Long]("end_offset") - 3L)
      val idle = c1b0.getAs[java.lang.Long]("idle_ms")
      assert(idle != null && idle >= 0L && idle < 3600L * 1000,
        s"a just-committed consumer reads as recently active, got $idle")
      // SHOW SNAPSHOTS: the registered pin, live
      val sn = s.sql("SHOW SNAPSHOTS FOR adm").collect()
      assert(sn.map(_.getAs[String]("name")).toSeq == Seq("pin1"))
      assert(sn.head.getAs[Boolean]("live"))
      // SHOW SCHEMA VERSIONS: empty on a raw topic; v1 then the additive
      // v2 after an evolve, only v2 current
      assert(s.sql("SHOW SCHEMA VERSIONS FOR adm").count() == 0)
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val v1 = StructType(Seq(StructField("a", LongType)))
      Ripple.createTopic(root, "admTyped", 1, v1)
      Ripple.evolveTopicSchema(root, "admTyped",
        StructType(v1.fields :+ StructField("b", StringType, nullable = true)))
      val sv = s.sql("SHOW SCHEMA VERSIONS FOR admTyped").collect()
      assert(sv.map(_.getAs[Int]("version")).toSeq == Seq(1, 2))
      assert(sv.map(_.getAs[Boolean]("current")).toSeq == Seq(false, true))
      assert(sv.last.getAs[String]("schema").contains("\"b\""))
      // no root anywhere: loud
      val bare = intercept[Exception] {
        s.sql("SHOW TOPICS") // would pass (conf set) — unset it first
        val s2 = s.newSession()
        s2.conf.unset("spark.graft.root")
        s2.sql("SHOW TOPICS").collect()
      }
      assert((Option(bare.getMessage).getOrElse("") +
        Option(bare.getCause).map(_.getMessage).getOrElse("")).contains("spark.graft.root"))
      // READ statements intercept through spark.sql: the envelope scan
      // and the latest-per-key table view (a distributed plan, not a
      // driver-side command)
      assert(s.sql(s"READ TOPIC adm IN '$root'").count() == 20)
      assert(s.sql(s"READ TOPIC adm AS TABLE IN '$root'").count() ==
        s.sql(s"READ TOPIC adm IN '$root'")
          .select("bucket", "id").distinct().count())
      // DESCRIBE advertises the read views
      assert(d.forall(_.getAs[String]("views") == "envelope,table,headers,committed"))
      // everything else still parses through the delegate
      assert(s.sql("SELECT 1 AS x").collect().head.getInt(0) == 1)
      assert(s.sql(s"DESCRIBE TOPIC adm").count() == 2) // conf root again
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base)
    }
  }

  test("SQL catalog surface: CREATE TABLE USING ripple, SELECT + INSERT work") {
    val root = tmp()
    Ripple.createTopic(root, "cat", 2)
    Ripple.write(samplePayloads(20), root, "cat", 2)
    spark.sql("DROP TABLE IF EXISTS ripple_cat")
    // `root` (not `path`): the session catalog rewrites a path OPTION into
    // the table location and injects its own warehouse path
    spark.sql(s"CREATE TABLE ripple_cat USING ripple OPTIONS (root '$root', topic 'cat')")
    assert(spark.sql("SELECT count(*) FROM ripple_cat").collect().head.getLong(0) == 20)
    assert(spark.sql("SELECT sum(id) FROM ripple_cat").collect().head.getLong(0)
      == (0 until 20).sum)
    // ACCEPT_ANY_SCHEMA: INSERT takes the query's own (aliased) shape
    spark.sql("INSERT INTO ripple_cat SELECT 99 AS id, cast('x' AS binary) AS data")
    assert(spark.sql("SELECT count(*) FROM ripple_cat").collect().head.getLong(0) == 21)
    assert(spark.sql("SELECT sum(id) FROM ripple_cat").collect().head.getLong(0)
      == (0 until 20).sum + 99)
    // offset pushdown still applies through the catalog relation
    val suffix = spark.sql("SELECT count(*) FROM ripple_cat WHERE offset >= 5")
    assert(suffix.collect().head.getLong(0) > 0)
    spark.sql("DROP TABLE ripple_cat")
  }

  test("schema registry: typed topic lifts with no caller schema, batch + SQL catalog + stream") {
    import spark.implicits._
    val root = tmp()
    val events = Seq(
      (1L, "click", 2.5), (2L, "view", 1.0), (3L, "click", 4.0))
      .toDF("event_id", "kind", "value")
    // writePacked registers the frame's schema as topic metadata
    Ripple.writePacked(events, root, "typed", col("event_id"), numBuckets = 2)
    assert(Ripple.topicSchema(root, "typed").map(_.fieldNames.toSeq)
      .contains(Seq("event_id", "kind", "value")))
    // lift with NO schema argument (registry-backed)
    val lifted = Ripple.lift(Ripple.read(spark, root, "typed"), root, "typed")
    assert(lifted.select("event_id", "kind", "value").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSet ==
      Set((1L, "click", 2.5), (2L, "view", 1.0), (3L, "click", 4.0)))
    // connector-native lifted scan: typed columns straight from the source
    val native = Ripple.readLifted(spark, root, "typed")
    assert(native.schema.fieldNames.toSeq ==
      Seq("_topic", "_bucket", "_offset", "_id", "_ts", "event_id", "kind", "value"))
    assert(native.select("kind", "value").collect().map(r =>
      (r.getString(0), r.getDouble(1))).toSet ==
      Set(("click", 2.5), ("view", 1.0), ("click", 4.0)))
    // offset pushdown survives under the underscore name
    val plan = native.where(col("_offset") >= 0).queryExecution.executedPlan.toString
    assert(plan.contains("_offset"), plan.take(500))
    // SQL catalog: CREATE TABLE ... lift 'true' — typed columns, no schema
    spark.sql("DROP TABLE IF EXISTS ripple_typed")
    spark.sql(s"CREATE TABLE ripple_typed USING ripple " +
      s"OPTIONS (root '$root', topic 'typed', lift 'true')")
    val viaSql = spark.sql(
      "SELECT kind, sum(value) AS total FROM ripple_typed GROUP BY kind ORDER BY kind")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaSql == Seq(("click", 6.5), ("view", 1.0)), viaSql.toString)
    spark.sql("DROP TABLE ripple_typed")
    // streaming read lifts through the same connector path
    val sq = spark.readStream.format("ripple").option("path", root)
      .option("topic", "typed").option("lift", "true").load()
      .writeStream.format("memory").queryName("typed_stream")
      .option("checkpointLocation", tmp()).start()
    try {
      sq.processAllAvailable()
      assert(spark.table("typed_stream").select("event_id").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    } finally sq.stop()
    // drift refusal: a frame with a different shape is refused LOUDLY
    val drifted = Seq((9L, "late", 1.0, "extra")).toDF("event_id", "kind", "value", "note")
    val e = intercept[IllegalStateException] {
      Ripple.writePacked(drifted, root, "typed", col("event_id"))
    }
    assert(e.getMessage.contains("drift") || e.getMessage.contains("registered"), e.getMessage)
    assert(Ripple.read(spark, root, "typed").count() == 3, "refused before staging")
    // an unregistered topic refuses a registry lift loudly
    Ripple.createTopic(root, "blob", 1)
    Ripple.write(samplePayloads(2), root, "blob", 1)
    val e2 = intercept[IllegalArgumentException] {
      Ripple.readLifted(spark, root, "blob").collect()
    }
    assert(e2.getMessage.contains("no registered payload schema"), e2.getMessage)
  }

  test("lifted scan ≡ lift(read): batch and streaming, non-UTC session zone, partial results") {
    import org.apache.spark.sql.Row
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    val root = tmp()
    Ripple.createTopic(root, "pj", numBuckets = 2)
    val payloads = PayloadCorpus.edges.map(_._2) ++ PayloadCorpus.events(seed = 5L, n = 400)
    Ripple.write(s.createDataFrame(
      s.sparkContext.parallelize(payloads.zipWithIndex.map { case (b, i) => Row(i, b) }, 3),
      StructType(Seq(StructField("id", IntegerType, nullable = false),
        StructField("data", BinaryType)))), root, "pj", numBuckets = 2)
    graft.connector.TopicSchemas.register(
      graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf), "pj",
      PayloadCorpus.schema)
    def rows(df: DataFrame): Seq[Row] =
      df.collect().toSeq.sortBy(r => (r.getString(1), r.getLong(2)))
    def assertSame(native: Seq[Row], lifted: Seq[Row]): Unit = {
      assert(native.size == payloads.size && lifted.size == payloads.size)
      val diffs = native.zip(lifted).filter { case (a, b) => a != b }
      assert(diffs.isEmpty, diffs.take(3).mkString("\n"))
    }
    val batch = rows(Ripple.readLifted(s, root, "pj"))
    assertSame(batch, rows(Ripple.lift(Ripple.read(s, root, "pj"), root, "pj")))
    // the two ways the scan used to differ: a zone-less timestamp parses in
    // the session zone, and a type mismatch keeps the record's other fields
    val byId = batch.map(r => r.getInt(3) -> r).toMap
    val at = batch.head.fieldIndex("at")
    val edgeId = PayloadCorpus.edges.map(_._1).zipWithIndex.toMap
    assert(byId(edgeId("zone-less timestamp")).getTimestamp(at).toInstant ==
      java.time.Instant.parse("2026-01-01T05:00:00Z"))
    assert(byId(edgeId("type mismatch")).getAs[String]("name") == "x")
    // streaming: the lifted source against lift over the envelope stream
    def drain(df: DataFrame, name: String): Seq[Row] = {
      val q = df.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp()).start()
      try q.processAllAvailable() finally q.stop()
      rows(s.table(name))
    }
    assertSame(
      drain(s.readStream.format("ripple").option("path", root).option("topic", "pj")
        .option("lift", "true").load(), "pj_native"),
      drain(Ripple.lift(Ripple.readStream(s, root, "pj"), root, "pj"), "pj_lifted"))
  }

  test("additive schema evolution: old blobs lift with NULL new columns; non-additive refused") {
    import spark.implicits._
    val root = tmp()
    val v1 = Seq((1L, "click"), (2L, "view")).toDF("event_id", "kind")
    Ripple.writePacked(v1, root, "evo", col("event_id"))
    // additive: +1 nullable column — accepted, no rewrite
    val widened = org.apache.spark.sql.types.StructType(
      v1.schema.fields :+ org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = true))
    Ripple.evolveTopicSchema(root, "evo", widened)
    val v2 = Seq((3L, "click", 0.9)).toDF("event_id", "kind", "score")
    Ripple.writePacked(v2, root, "evo", col("event_id"))
    val lifted = Ripple.readLifted(spark, root, "evo")
      .select("event_id", "kind", "score").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    assert(lifted == Set((1L, "click", None), (2L, "view", None),
      (3L, "click", Some(0.9))),
      s"old rows lift with NULL score, new ones typed: $lifted")
    // rename/retype/reorder stays loudly refused
    val renamed = Seq((9L, "x")).toDF("event_id", "kindx")
    intercept[IllegalStateException] {
      Ripple.evolveTopicSchema(root, "evo", renamed.schema)
    }
    // non-nullable addition refused too
    val hardAdd = org.apache.spark.sql.types.StructType(
      widened.fields :+ org.apache.spark.sql.types.StructField("must",
        org.apache.spark.sql.types.LongType, nullable = false))
    intercept[IllegalStateException] {
      Ripple.evolveTopicSchema(root, "evo", hardAdd)
    }
  }

  test("lossless widening evolution: int→long/float→double accepted and versioned; narrowing refused") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val v1 = StructType(Seq(
      StructField("event_id", IntegerType),
      StructField("score", FloatType),
      StructField("kind", StringType)))
    graft.connector.TopicSchemas.register(log, "wid", v1)
    assert(graft.connector.TopicSchemas.currentVersion(log, "wid").contains(1))
    // write an old-shape blob BEFORE widening
    Ripple.write(Seq((1, """{"event_id":7,"score":1.5,"kind":"a"}""".getBytes("UTF-8")))
      .toDF("id", "data"), root, "wid", numBuckets = 1)
    // widen both numeric fields; history records version 2
    val v2 = StructType(Seq(
      StructField("event_id", LongType),
      StructField("score", DoubleType),
      StructField("kind", StringType)))
    Ripple.evolveTopicSchema(root, "wid", v2)
    assert(graft.connector.TopicSchemas.currentVersion(log, "wid").contains(2))
    assert(graft.connector.TopicSchemas.schemaAt(log, "wid", 1) == v1)
    assert(graft.connector.TopicSchemas.schemaAt(log, "wid", 2) == v2)
    assert(Ripple.topicSchemaVersions(root, "wid") == Map(1 -> v1, 2 -> v2))
    // the old blob lifts exactly at the wider types
    val row = Ripple.readLifted(spark, root, "wid")
      .select("event_id", "score", "kind").collect().head
    assert(row.getLong(0) == 7L && row.getDouble(1) == 1.5 && row.getString(2) == "a")
    // an old-shape producer (still shipping ints) stays valid post-widen
    graft.connector.TopicSchemas.register(log, "wid", v1)
    // narrowing back is refused loudly
    val e = intercept[IllegalStateException] {
      Ripple.evolveTopicSchema(root, "wid", v1)
    }
    assert(e.getMessage.contains("WIDENING"), e.getMessage)
    // unrelated retype (string→long) refused too
    intercept[IllegalStateException] {
      Ripple.evolveTopicSchema(root, "wid", StructType(Seq(
        StructField("event_id", LongType),
        StructField("score", DoubleType),
        StructField("kind", LongType))))
    }
    // crashed-dropSchema corner: the pointer vanished but the old
    // generation's version files survive — a re-registration must START
    // OVER at v1, not let stale v2 outrank the new generation
    log.fs.delete(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(log.root, "wid"), ".schema"), false)
    val fresh = StructType(Seq(StructField("z", StringType)))
    graft.connector.TopicSchemas.register(log, "wid", fresh)
    assert(graft.connector.TopicSchemas.currentVersion(log, "wid").contains(1))
    assert(graft.connector.TopicSchemas.schemaAt(log, "wid", 1) == fresh)
  }

  test("snapshot pins its schema version: a pinned lifted read survives later evolution") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = tmp()
    val early = Seq((1L, "click"), (2L, "view")).toDF("event_id", "kind")
    Ripple.writePacked(early, root, "pinv", col("event_id"), numBuckets = 1)
    val token = Ripple.snapshot(root, "pinv")
    // post-capture: additive evolution + more rows under the new shape
    val v2 = StructType(early.schema.fields :+
      StructField("score", DoubleType, nullable = true))
    Ripple.evolveTopicSchema(root, "pinv", v2)
    Ripple.writePacked(Seq((3L, "click", 0.9)).toDF("event_id", "kind", "score"),
      root, "pinv", col("event_id"), numBuckets = 1)
    // live lifted read: current schema — three rows, score column present
    val live = Ripple.readLifted(spark, root, "pinv")
    assert(live.schema.fieldNames.contains("score") && live.count() == 3)
    // pinned lifted read: the VERSION the token was cut under — two rows,
    // NO score column (the corpus looks exactly as it did at capture)
    val pinned = Ripple.readSnapshotLifted(spark, root, "pinv", token)
    assert(!pinned.schema.fieldNames.contains("score"),
      s"pinned read must lift with the captured schema: ${pinned.schema.simpleString}")
    assert(pinned.select("event_id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "click"), (2L, "view")))
    // a pre-versioning token (no schemaV) still reads — current schema
    val (tpc, ranges, sv) = graft.connector.TopicSnapshot.decode(token)
    assert(tpc == "pinv" && sv.contains(1))
    val legacyToken = graft.connector.TopicSnapshot.encode("pinv", ranges, None)
    assert(Ripple.readSnapshotLifted(spark, root, "pinv", legacyToken)
      .schema.fieldNames.contains("score"))
  }

  test("a running lifted stream keeps its start schema; restart picks up the evolution") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = tmp()
    Ripple.writePacked(Seq((1L, "a"), (2L, "b")).toDF("event_id", "kind"),
      root, "evs", col("event_id"), numBuckets = 1)
    val q1 = spark.readStream.format("ripple")
      .option("path", root).option("topic", "evs").option("lift", "true")
      .load().writeStream.format("memory").queryName("evs1")
      .option("checkpointLocation", tmp()).start()
    try {
      q1.processAllAvailable()
      assert(!spark.table("evs1").schema.fieldNames.contains("score"))
      // evolve WHILE the query runs; write a wide row
      Ripple.evolveTopicSchema(root, "evs", StructType(Seq(
        StructField("event_id", LongType), StructField("kind", StringType),
        StructField("score", DoubleType))))
      Ripple.writePacked(Seq((3L, "c", 0.5)).toDF("event_id", "kind", "score"),
        root, "evs", col("event_id"), numBuckets = 1)
      q1.processAllAvailable()
      // the RUNNING query keeps its start shape — the new row arrives,
      // its extra column does not (a frame cannot change columns mid-query)
      assert(spark.table("evs1").count() == 3)
      assert(!spark.table("evs1").schema.fieldNames.contains("score"))
    } finally q1.stop()
    // a restarted (fresh) query lifts with the evolved schema; pre-evolve
    // rows carry NULL score
    val q2 = spark.readStream.format("ripple")
      .option("path", root).option("topic", "evs").option("lift", "true")
      .load().writeStream.format("memory").queryName("evs2")
      .option("checkpointLocation", tmp()).start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("evs2").select("event_id", "score").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
      assert(rows == Set((1L, None), (2L, None), (3L, Some(0.5))))
    } finally q2.stop()
  }

  test("first-registration race: one winner, loser gets the drift check against it") {
    import org.apache.spark.sql.types._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val winner = StructType(Seq(StructField("a", LongType)))
    val drifted = StructType(Seq(StructField("b", StringType)))
    // the seam interleaves the WINNER's registration inside the loser's
    // check-then-write window — the loser must hit the drift error, never
    // silently overwrite (the old writeFileAtomic path let the later
    // writer win)
    graft.connector.TopicSchemas.raceSeam = () => {
      graft.connector.TopicSchemas.raceSeam = () => ()
      graft.connector.TopicSchemas.register(log, "race", winner)
    }
    try {
      val e = intercept[IllegalStateException] {
        graft.connector.TopicSchemas.register(log, "race", drifted)
      }
      assert(e.getMessage.contains("drift") || e.getMessage.contains("registered"))
    } finally graft.connector.TopicSchemas.raceSeam = () => ()
    assert(graft.connector.TopicSchemas.get(log, "race").contains(winner),
      "the create-exclusive winner's schema survives")
    // losing the race with a SATISFYING schema is silent success
    graft.connector.TopicSchemas.raceSeam = () => {
      graft.connector.TopicSchemas.raceSeam = () => ()
      graft.connector.TopicSchemas.register(log, "race2", winner)
    }
    try graft.connector.TopicSchemas.register(log, "race2", winner)
    finally graft.connector.TopicSchemas.raceSeam = () => ()
    assert(graft.connector.TopicSchemas.get(log, "race2").contains(winner))
    // two racing THREADS that both pass the check before either creates:
    // the put-if-absent pointer write lets exactly one win, the other gets
    // the drift error — never two winners, never a silent overwrite
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    graft.connector.TopicSchemas.raceSeam = () =>
      barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
    try (0 until 10).foreach { round =>
      val topic = s"race3-$round"
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[(StructType, Option[Throwable])]()
      val racers = Seq(winner, drifted).map { schema =>
        new Thread(() => outcomes.add((schema,
          try { graft.connector.TopicSchemas.register(log, topic, schema); None }
          catch { case e: Throwable => Some(e) })))
      }
      racers.foreach(_.start()); racers.foreach(_.join())
      val all = outcomes.toArray(Array.empty[(StructType, Option[Throwable])]).toSeq
      val won = all.filter(_._2.isEmpty).map(_._1)
      assert(won.size == 1, s"round $round: exactly one registration wins, got $all")
      assert(all.exists(_._2.exists(_.isInstanceOf[IllegalStateException])),
        s"round $round: the loser hits the drift check: $all")
      assert(graft.connector.TopicSchemas.get(log, topic).contains(won.head),
        s"round $round: the pointer holds the winner's schema")
    } finally graft.connector.TopicSchemas.raceSeam = () => ()
  }

  test("streaming sink over the object-store rig: exactly-once epochs end to end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    spark.sparkContext.hadoopConfiguration
      .set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    val root = "ostest:" + tmp()
    Ripple.createTopic(root, "osstream", numBuckets = 2)
    val mem = MemoryStream[Int]
    mem.addData(1 to 25: _*)
    val ckpt = tmp()
    def drain(): Unit = {
      val q = mem.toDF().selectExpr("value AS id", "CAST(CAST(value AS STRING) AS BINARY) AS data")
        .writeStream.format("ripple")
        .option("path", root).option("topic", "osstream")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    drain()
    assert(Ripple.read(spark, root, "osstream").count() == 25)
    // restart on the SAME checkpoint: committed epochs replay as no-ops
    drain()
    assert(Ripple.read(spark, root, "osstream").count() == 25,
      "checkpoint restart must not duplicate epochs on the object store")
    mem.addData(26 to 30: _*)
    drain()
    val back = Ripple.read(spark, root, "osstream")
    assert(back.count() == 30)
    assert(back.select("id").collect().map(_.getInt(0)).sorted.toSeq == (1 to 30))
  }

  test("consumer cursors + retention floor over the object-store rig") {
    // A9's broker-side cursor protocol (tmp + refused-rename + delete+retry
    // replace) and the retention floor both run on the manifest-commit
    // store: cursors trail the checkpoint, resume skips committed rows,
    // truncation floors respect manifest-mode segment removal
    spark.sparkContext.hadoopConfiguration
      .set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    val root = "ostest:" + tmp()
    Ripple.createTopic(root, "oscur", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "oscur", numBuckets = 1)
    val ckpt = Ripple.consumerCheckpoint(root, "oscur", "grp")
    def drain(): Long = {
      // memory sink can't recover a checkpoint; drain into a second topic
      // (everything stays on the object store) and count it back
      val q = Ripple.readStream(spark, root, "oscur", consumerId = Some("grp"))
        .select(col("id"), col("data"))
        .writeStream.format("ripple")
        .option("path", root).option("topic", "oscur_out")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      Ripple.read(spark, root, "oscur_out").count()
    }
    assert(drain() == 10)
    assert(Ripple.consumerOffsets(root, "oscur")("grp") == Map("b0000" -> 10L),
      "cursor recorded on the object store")
    Ripple.write(samplePayloads(5).coalesce(1), root, "oscur", numBuckets = 1)
    assert(drain() == 15, "resume reads only the new rows")
    // retention floors through the commit log; status accounting agrees
    assert(Ripple.truncateBefore(root, "oscur", 10L) == 1)
    assert(Ripple.earliestOffsets(root, "oscur") == Map("b0000" -> 10L))
    val st = Ripple.consumerStatus(root, "oscur")("grp")("b0000")
    assert(st.committed == 15L && st.lag == 0L && st.lostToRetention == 0L)
  }

  test("retentionMs write option expires aged segments at publish time") {
    val root = tmp()
    Ripple.createTopic(root, "ret", 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "ret")
    val log = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
    val tb = graft.model.TopicBucket("ret", "b0000")
    // age the existing segment beyond the policy
    log.segments(tb).foreach { case (p, _, _) =>
      java.nio.file.Files.setLastModifiedTime(nio(p),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000L))
    }
    samplePayloads(5).coalesce(1).write.format("ripple")
      .option("path", root).option("topic", "ret")
      .option("retentionMs", 60_000L)
      .mode("append").save()
    // aged [0,10) expired; the fresh [10,15) segment remains, offsets preserved
    val back = Ripple.read(spark, root, "ret")
    assert(back.count() == 5)
    assert(back.agg(min("offset"), max("offset")).collect().head.toSeq == Seq(10L, 14L))
  }

  test("write rejects schemas without id/data") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "t6", numBuckets = 1)
    val bad = Seq((1, "x")).toDF("a", "b")
    val e = intercept[Exception] {
      Ripple.write(bad, root, "t6")
    }
    assert(e.getMessage.contains("id") || e.getCause != null)
  }

  test("consumer groups: two consumerIds fan out independently, offsets visible, fresh-checkpoint resume") {
    val root = tmp()
    Ripple.createTopic(root, "cg", numBuckets = 2)
    Ripple.write(samplePayloads(40), root, "cg", numBuckets = 2)

    def drain(consumerId: String, sink: String, ckpt: String): Long = {
      val q = Ripple.readStream(spark, root, "cg", consumerId = Some(consumerId))
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), s"$consumerId drain did not finish")
      spark.table(sink).count()
    }
    def managed(id: String) = Ripple.consumerCheckpoint(root, "cg", id)

    // fan-out, not work-sharing: each consumer id replays the FULL log
    assert(drain("alpha", "cg_a1", managed("alpha")) == 40)
    assert(drain("beta", "cg_b1", managed("beta")) == 40)

    // introspection: both consumers visible and at the log end
    val ends = Ripple.endOffsets(root, "cg")
    val committed = Ripple.consumerOffsets(root, "cg")
    assert(committed.keySet == Set("alpha", "beta"))
    assert(committed("alpha") == ends && committed("beta") == ends)

    // FRESH checkpoint + SAME consumerId resumes from the broker-side
    // position: only post-commit rows are delivered, not a zero replay
    Ripple.write(samplePayloads(15), root, "cg", numBuckets = 2)
    assert(drain("alpha", "cg_a2", tmp()) == 15)
    // ...while a NEW consumer id still replays everything
    assert(drain("gamma", "cg_c1", tmp()) == 55)

    // invalid ids are rejected before touching the filesystem
    intercept[IllegalArgumentException] {
      graft.connector.ConsumerOffsets.requireValidId("../evil")
    }
  }

  test("batch data-loss guard: explicit startingOffset below the retention floor fails; allowDataLoss skips; absent = earliest") {
    val root = tmp()
    Ripple.createTopic(root, "dl", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dl") // seg [0,10)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dl") // seg [10,20)
    assert(Ripple.truncateBefore(root, "dl", 10) == 1)       // [0,10) gone
    assert(Ripple.earliestOffsets(root, "dl") == Map("b0000" -> 10L))

    // absent startingOffset = "earliest retained": reads the survivors
    assert(Ripple.read(spark, root, "dl").count() == 10)

    // explicit startingOffset below the floor = positional read of lost rows
    val e = intercept[Exception] {
      Ripple.readRange(spark, root, "dl", from = 0, until = Long.MaxValue).count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("retention") && msg.contains("10"),
      s"error must name the truncation floor: $msg")

    // allowDataLoss=true: skip the lost range, read from the floor
    val skipped = spark.read.format("ripple")
      .option("path", root).option("topic", "dl")
      .option("startingOffset", 0L).option("allowDataLoss", true).load()
    assert(skipped.select("offset").collect().map(_.getLong(0)).sorted.toSeq
      == (10L until 20L))

    // an explicit start AT/ABOVE the floor is not loss
    assert(Ripple.readRange(spark, root, "dl", from = 10, until = 15).count() == 5)
  }

  test("streaming data-loss guard: resume below the truncation floor fails by default, proceeds with allowDataLoss") {
    val root = tmp()
    Ripple.createTopic(root, "dls", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dls") // seg [0,10)
    val ckpt = tmp()
    val out = tmp() // file sink: supports checkpoint RECOVERY (memory doesn't)

    def start(allow: Boolean) = {
      var r = spark.readStream.format("ripple")
        .option("path", root).option("topic", "dls")
      if (allow) r = r.option("allowDataLoss", true)
      r.load().select("offset").writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }

    val q1 = start(allow = false)
    assert(q1.awaitTermination(60000))
    assert(spark.read.parquet(out).count() == 10) // committed through 10

    // two more segments; retention truncates PAST the committed offset
    Ripple.write(samplePayloads(10).coalesce(1), root, "dls") // seg [10,20)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dls") // seg [20,30)
    assert(Ripple.truncateBefore(root, "dls", 20) == 2)
    assert(Ripple.earliestOffsets(root, "dls") == Map("b0000" -> 20L))

    // default: the resume FAILS loudly with the floor in the message
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = start(allow = false)
      q.awaitTermination(60000)
    }
    val msg = e.toString + Option(e.getCause).map(_.toString).getOrElse("")
    assert(msg.contains("retention") && msg.contains("20"),
      s"resume failure must name the truncation floor: $msg")

    // allowDataLoss: resume skips [10,20) and drains the survivors
    val q2 = start(allow = true)
    assert(q2.awaitTermination(60000))
    assert(spark.read.parquet(out).select("offset").collect()
      .map(_.getLong(0)).sorted.toSeq == ((0L until 10L) ++ (20L until 30L)))
  }

  test("addBuckets grows a live topic: old buckets untouched, streams absorb, pins unaffected, shrink refused") {
    val root = tmp()
    Ripple.createTopic(root, "gw", numBuckets = 2)
    Ripple.write(samplePayloads(10), root, "gw", numBuckets = 2)
    val beforeEnds = Ripple.endOffsets(root, "gw")
    val token = Ripple.snapshot(root, "gw")
    // a running stream, started BEFORE the grow
    val q = spark.readStream.format("ripple")
      .option("path", root).option("topic", "gw").load()
      .writeStream.format("memory").queryName("gw_out")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("gw_out").count() == 10)
      // grow 2 → 4; new buckets empty at offset 0, old ends untouched
      assert(Ripple.addBuckets(root, "gw", 4) == Seq("b0002", "b0003"))
      val ends = Ripple.endOffsets(root, "gw")
      assert(ends("b0002") == 0L && ends("b0003") == 0L)
      assert(beforeEnds.forall { case (b, e) => ends(b) == e })
      // default routing now spreads over 4 buckets; the RUNNING stream
      // absorbs the new buckets at its next trigger
      Ripple.write(samplePayloads(20), root, "gw", numBuckets = 4)
      assert(Ripple.endOffsets(root, "gw").count(_._2 > 0) >= 3,
        "post-grow writes must reach the new buckets")
      q.processAllAvailable()
      assert(spark.table("gw_out").count() == 30,
        "running stream delivers rows landing in grown buckets")
      // batch read unions all live buckets
      assert(Ripple.read(spark, root, "gw").count() == 30)
      // a pin cut before the grow never sees the new buckets
      assert(Ripple.readSnapshot(spark, root, "gw", token).count() == 10)
    } finally q.stop()
    // shrink (or no-op) is a loud refusal
    val e = intercept[IllegalArgumentException] { Ripple.addBuckets(root, "gw", 4) }
    assert(e.getMessage.contains("GROW"), e.getMessage)
    intercept[IllegalArgumentException] { Ripple.addBuckets(root, "gw", 2) }
    intercept[IllegalArgumentException] { Ripple.addBuckets(root, "nosuchtopic", 8) }
  }

  test("size-based retention: byte budget, guard interplay, consumer protection, pinned-snapshot loudness") {
    val root = tmp()
    Ripple.createTopic(root, "sz", numBuckets = 1)
    (0 until 3).foreach { _ =>
      Ripple.write(samplePayloads(10).coalesce(1), root, "sz") // 3 segments
    }
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segBytes = log.segments(graft.model.TopicBucket("sz", "b0000"))
      .map { case (p, _, _) => log.fs.getFileStatus(p).getLen }
    assert(segBytes.size == 3)
    // a snapshot pinned BEFORE retention — its floor is offset 0
    val token = Ripple.snapshot(root, "sz")
    // budget = last two segments → [0,10) expires; floor advances
    assert(Ripple.truncateToBytes(root, "sz", segBytes.drop(1).sum) == 1)
    assert(Ripple.earliestOffsets(root, "sz") == Map("b0000" -> 10L))
    // read-side guard interplay: explicit positional read of the lost
    // range fails naming the floor; absent start reads survivors
    assert(Ripple.read(spark, root, "sz").count() == 20)
    val e = intercept[Exception] {
      Ripple.readRange(spark, root, "sz", from = 0, until = Long.MaxValue).count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("retention") && msg.contains("10"), msg)
    // the pre-retention snapshot pins floor 0 — now truncated past: LOUD
    val e2 = intercept[Exception] {
      Ripple.readSnapshot(spark, root, "sz", token).count()
    }
    val msg2 = Option(e2.getMessage).getOrElse("") +
      Option(e2.getCause).map(_.getMessage).getOrElse("")
    assert(msg2.contains("retention") || msg2.contains("removed"), msg2)
    // consumer protection: a slow committed cursor clamps the byte floor
    graft.connector.ConsumerOffsets.commit(root, "sz", "slow", Map("b0000" -> 12L))
    assert(Ripple.truncateToBytes(root, "sz", 1L, protectConsumers = true) == 0,
      "floor 20 clamps to the slow cursor 12, inside segment [10,20) — nothing deletable")
    assert(Ripple.earliestOffsets(root, "sz") == Map("b0000" -> 10L))
    // unprotected: the budget wins (newest survives regardless)
    assert(Ripple.truncateToBytes(root, "sz", 1L) == 1)
    assert(Ripple.earliestOffsets(root, "sz") == Map("b0000" -> 20L))
  }

  test("deleteTopic: consumer-guarded, loud on unknown, clean recreate") {
    val root = tmp()
    Ripple.createTopic(root, "del", numBuckets = 2)
    Ripple.write(samplePayloads(10), root, "del", numBuckets = 2)
    graft.connector.ConsumerOffsets.commit(root, "del", "live", Map("b0000" -> 3L))
    // registered consumer: refuse without force
    val e = intercept[IllegalStateException] { Ripple.deleteTopic(root, "del") }
    assert(e.getMessage.contains("live"), e.getMessage)
    assert(Ripple.read(spark, root, "del").count() == 10, "refused before deleting")
    // force: gone — data, metadata, consumer state
    assert(Ripple.deleteTopic(root, "del", force = true) == 2)
    assert(!Ripple.topics(root).contains("del"))
    assert(Ripple.consumerOffsets(root, "del").isEmpty)
    // unknown topic (incl. the just-deleted one) is loud, not a no-op
    intercept[IllegalArgumentException] { Ripple.deleteTopic(root, "del") }
    intercept[IllegalArgumentException] { Ripple.deleteTopic(root, "typo") }
    // recreate starts fresh at offset 0
    Ripple.createTopic(root, "del", numBuckets = 1)
    Ripple.write(samplePayloads(3).coalesce(1), root, "del", numBuckets = 1)
    assert(Ripple.read(spark, root, "del").select("offset").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    // a consumer-less topic deletes without force
    assert(Ripple.deleteTopic(root, "del") == 1)
  }

  test("resetConsumer: earliest/offsets/timestamp rewinds, checkpoint outranking handled, out-of-range loud") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "rc", numBuckets = 1)
    val base = 1600000000000L
    def half(lo: Int, hi: Int) = (lo until hi).map(i =>
        (i, s"r$i".getBytes("UTF-8"), new java.sql.Timestamp(base + 1000L * i)))
      .toDF("id", "data", "ts").repartition(1).sortWithinPartitions("id")
    // two segments, so the floor can actually advance for the refusal case
    Ripple.write(half(0, 10), root, "rc", numBuckets = 1)
    Ripple.write(half(10, 20), root, "rc", numBuckets = 1)

    def drain(name: String): Seq[Long] = {
      val q = spark.readStream.format("ripple")
        .option("path", root).option("topic", "rc")
        .option("consumerId", "grp").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp()) // FRESH checkpoint each time
        .start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).select("offset").collect().map(_.getLong(0)).sorted.toSeq
    }

    // a managed-checkpoint query commits through the end...
    val q0 = spark.readStream.format("ripple")
      .option("path", root).option("topic", "rc")
      .option("consumerId", "grp").load()
      .writeStream.format("memory").queryName("rc0")
      .option("checkpointLocation", Ripple.consumerCheckpoint(root, "rc", "grp"))
      .start()
    try { q0.processAllAvailable() } finally q0.stop()
    assert(spark.table("rc0").count() == 20)
    // ...so a cursor-only rewind would be OUTRANKED by it; resetConsumer
    // must drop the managed checkpoint for the rewind to take effect
    assert(Ripple.resetConsumer(root, "rc", "grp",
      Ripple.ConsumerReset.ToOffsets(Map("b0000" -> 10L))) == Map("b0000" -> 10L))
    assert(drain("rc1") == (10L until 20L), "reset position wins over the dropped checkpoint")
    // earliest: full replay
    Ripple.resetConsumer(root, "rc", "grp", Ripple.ConsumerReset.Earliest)
    assert(drain("rc2") == (0L until 20L))
    // timestamp: seek semantics ("rewind to t=15s")
    assert(Ripple.resetConsumer(root, "rc", "grp",
      Ripple.ConsumerReset.ToTimestamp(base + 15000L)) == Map("b0000" -> 15L))
    assert(drain("rc3") == (15L until 20L))
    // latest: skip the backlog
    Ripple.resetConsumer(root, "rc", "grp", Ripple.ConsumerReset.Latest)
    assert(drain("rc4").isEmpty)
    // loud refusals: unknown bucket; outside the retained range
    intercept[IllegalArgumentException] {
      Ripple.resetConsumer(root, "rc", "grp",
        Ripple.ConsumerReset.ToOffsets(Map("nope" -> 0L)))
    }
    intercept[IllegalArgumentException] {
      Ripple.resetConsumer(root, "rc", "grp",
        Ripple.ConsumerReset.ToOffsets(Map("b0000" -> 21L)))
    }
    Ripple.truncateBefore(root, "rc", 10L)
    intercept[IllegalArgumentException] {
      Ripple.resetConsumer(root, "rc", "grp",
        Ripple.ConsumerReset.ToOffsets(Map("b0000" -> 5L)))
    }
  }

  test("addBuckets with custom-named buckets: additions computed from the actual bucket set") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "cb", numBuckets = 2)
    // a writer routes via an explicit bucket column — a non-canonical name
    Ripple.write(Seq((1, "x".getBytes("UTF-8"), "hotlane"))
      .toDF("id", "data", "bucket"), root, "cb", numBuckets = 2)
    assert(Ripple.buckets(root, "cb").toSet == Set("b0000", "b0001", "hotlane"))
    // grow to 5: exactly TWO new canonical buckets at the next free
    // indices — the naive createTopic(5).drop(3) would have created
    // b0000..b0004 (an unreported b0002..b0004 = 3 new, 6 total) and
    // reported the wrong list
    assert(Ripple.addBuckets(root, "cb", 5) == Seq("b0002", "b0003"))
    assert(Ripple.buckets(root, "cb").toSet ==
      Set("b0000", "b0001", "hotlane", "b0002", "b0003"))
    assert(Ripple.endOffsets(root, "cb")("hotlane") == 1L)
    // grow again — allocation continues from the next free index
    assert(Ripple.addBuckets(root, "cb", 6) == Seq("b0004"))
    // no-op/shrink refused against the ACTUAL count (6, custom included)
    intercept[IllegalArgumentException] { Ripple.addBuckets(root, "cb", 6) }
  }

  test("refused filesystem deletes are loud: deleteTopic and resetConsumer cannot silently no-op") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rdtest.impl", classOf[RefusedDeleteTestFs].getName)
    val root = "rdtest:" + tmp()
    // deleteTopic: fs.delete returns false → must throw, not report success
    Ripple.createTopic(root, "dead-nodelete", numBuckets = 1)
    val e = intercept[java.io.IOException] { Ripple.deleteTopic(root, "dead-nodelete") }
    assert(e.getMessage.contains("refused") || e.getMessage.contains("partially"), e.getMessage)
    assert(Ripple.topics(root).contains("dead-nodelete"), "topic must survive a refused delete")
    // resetConsumer: a checkpoint that cannot be dropped would outrank the
    // rewritten cursor on the next resume — the reset must abort LOUDLY
    // with the cursor unchanged, never commit-and-report-success
    Ripple.createTopic(root, "rt", numBuckets = 1)
    graft.connector.ConsumerOffsets.checkpoint(root, "rt", "c-nodelete") // dir exists
    graft.connector.ConsumerOffsets.commit(root, "rt", "c-nodelete", Map("b0000" -> 0L))
    val e2 = intercept[java.io.IOException] {
      Ripple.resetConsumer(root, "rt", "c-nodelete", Ripple.ConsumerReset.Latest)
    }
    assert(e2.getMessage.contains("checkpoint"), e2.getMessage)
    assert(Ripple.consumerOffsets(root, "rt")("c-nodelete") == Map("b0000" -> 0L),
      "cursor must be unchanged after an aborted reset")
    // an id with no checkpoint is unaffected by the rig (nothing to drop)
    Ripple.resetConsumer(root, "rt", "fresh-id", Ripple.ConsumerReset.Latest)
  }

  test("topic config: persisted policy applies to every writer; explicit options win per key") {
    val root = tmp()
    // --- autoCompactSegments from topic config, no writer options ---
    Ripple.createTopic(root, "tca", numBuckets = 1)
    Ripple.setTopicConfig(root, "tca",
      graft.connector.TopicConfig(autoCompactSegments = Some(3)))
    (0 until 6).foreach { i =>
      Ripple.write(samplePayloads(5, idOffset = i * 5), root, "tca", numBuckets = 1)
    }
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("tca", "b0000")
    assert(log.segments(tb).size < 3,
      s"config-driven auto-compaction must have merged, got ${log.segments(tb).size}")
    assert(Ripple.read(spark, root, "tca").count() == 30, "compaction preserves rows")
    // explicit writer option (the OFF value!) wins over the config:
    // three single-partition writes with autoCompactSegments=0 push the
    // count past the config threshold WITHOUT a merge
    val n0 = log.segments(tb).size
    (0 until 3).foreach { i =>
      samplePayloads(5, idOffset = 30 + i * 5).repartition(1)
        .write.format("ripple")
        .option("path", root).option("topic", "tca")
        .option("autoCompactSegments", 0).mode("append").save()
    }
    assert(log.segments(tb).size == n0 + 3 && log.segments(tb).size >= 3,
      s"explicit autoCompactSegments=0 writers must not compact, " +
        s"got ${log.segments(tb).size} from $n0")
    // the next option-less write falls back to the config and merges
    Ripple.write(samplePayloads(5, idOffset = 45).repartition(1),
      root, "tca", numBuckets = 1)
    assert(log.segments(tb).size < n0 + 4,
      "an option-less write applies the config again")
    assert(Ripple.read(spark, root, "tca").count() == 50, "all rows intact")
    // --- retentionBytes from topic config ---
    Ripple.createTopic(root, "tcb", numBuckets = 1)
    Ripple.write(samplePayloads(10).repartition(1), root, "tcb", numBuckets = 1)
    Ripple.setTopicConfig(root, "tcb",
      graft.connector.TopicConfig(retentionBytes = Some(1L)))
    Ripple.write(samplePayloads(10, idOffset = 10).repartition(1),
      root, "tcb", numBuckets = 1)
    assert(Ripple.earliestOffsets(root, "tcb")("b0000") == 10L,
      "config retentionBytes=1 keeps only the newest segment at publish")
    // --- surface: read-back, describe, applyRetention, clear, refusals ---
    assert(Ripple.topicConfig(root, "tcb").retentionBytes.contains(1L))
    assert(Ripple.describeTopic(root, "tcb").config.render == "retentionBytes=1")
    Ripple.write(samplePayloads(10, idOffset = 20).repartition(1),
      root, "tcb", numBuckets = 1)
    assert(Ripple.earliestOffsets(root, "tcb")("b0000") == 20L,
      "every option-less publish applies the topic policy")
    // a writer that explicitly opts out leaves a backlog...
    samplePayloads(10, idOffset = 30).repartition(1).write.format("ripple")
      .option("path", root).option("topic", "tcb")
      .option("retentionBytes", Long.MaxValue).mode("append").save()
    assert(Ripple.earliestOffsets(root, "tcb")("b0000") == 20L)
    // ...which the one-call nightly job cleans up from the SAME config
    assert(Ripple.applyRetention(root, "tcb") >= 1, "the nightly job applies the policy")
    assert(Ripple.earliestOffsets(root, "tcb")("b0000") == 30L)
    assert(Ripple.applyRetention(root, "tca") == 0, "no retention policy = no-op")
    Ripple.setTopicConfig(root, "tcb", graft.connector.TopicConfig())
    assert(Ripple.topicConfig(root, "tcb").isEmpty, "empty config clears the file")
    intercept[IllegalArgumentException] {
      Ripple.setTopicConfig(root, "tcb",
        graft.connector.TopicConfig(retentionMs = Some(-5L)))
    }
    intercept[IllegalArgumentException] {
      Ripple.setTopicConfig(root, "nope", graft.connector.TopicConfig(
        retentionMs = Some(1000L)))
    }
    // torn/malformed config is LOUD everywhere it is read
    log.writeFileAtomic(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(log.root, "tcb"), ".config"),
      "{broken".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[IllegalStateException] { Ripple.topicConfig(root, "tcb") }
    val torn = intercept[Exception] { // Spark may wrap the write-side throw
      Ripple.write(samplePayloads(5, idOffset = 30), root, "tcb", numBuckets = 1)
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(torn).exists(_.contains("unreadable")), chain(torn).mkString(" | "))
  }

  test("consumer lifecycle: deleteConsumer and idle expiry (offsets.retention analog)") {
    val root = tmp()
    Ripple.createTopic(root, "cl", numBuckets = 1)
    Ripple.write(samplePayloads(10), root, "cl", numBuckets = 1)
    // deleteConsumer: cursor AND managed checkpoint go; the id starts fresh
    graft.connector.ConsumerOffsets.checkpoint(root, "cl", "gone")
    graft.connector.ConsumerOffsets.commit(root, "cl", "gone", Map("b0000" -> 5L))
    graft.connector.ConsumerOffsets.commit(root, "cl", "kept", Map("b0000" -> 7L))
    Ripple.deleteConsumer(root, "cl", "gone")
    assert(Ripple.consumerOffsets(root, "cl").keySet == Set("kept"))
    assert(graft.connector.ConsumerOffsets.load(root, "cl", "gone").isEmpty,
      "a deleted consumer's next use must start fresh")
    // unknown id is loud — a typo must not read as "deleted"
    intercept[IllegalArgumentException] { Ripple.deleteConsumer(root, "cl", "gone") }
    // expiry: activity stamps are mtimes — plant 10 idle days on "stale",
    // register (but never commit) "fresh"; only the stale one expires
    graft.connector.ConsumerOffsets.commit(root, "cl", "stale", Map("b0000" -> 3L))
    graft.connector.ConsumerOffsets.checkpoint(root, "cl", "fresh") // registration = activity
    val fs = graft.log.LogFs.get(new org.apache.hadoop.fs.Path(root),
      graft.log.LogFs.activeHadoopConf)
    val staleDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, "cl"),
        ".consumers"), "stale")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    fs.setTimes(new org.apache.hadoop.fs.Path(staleDir, "cursor.json"), old, old)
    fs.setTimes(staleDir, old, old)
    // even an ANCIENT-looking namespace dir must not expire a consumer
    // that never committed: dir mtimes are substrate-synthesized on
    // object stores, so expiry keys on FILE stamps only (and a
    // no-cursor consumer clamps nothing anyway)
    val freshDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, "cl"),
        ".consumers"), "fresh")
    fs.setTimes(freshDir, old, old)
    assert(Ripple.expireConsumers(root, "cl", olderThanMs = 24L * 3600 * 1000)
      == Seq("stale"))
    assert(graft.connector.ConsumerOffsets.registered(root, "cl").toSet
      == Set("kept", "fresh"),
      "live cursor and never-committed registration survive expiry")
    // expiring everything is not a threshold — loud
    intercept[IllegalArgumentException] { Ripple.expireConsumers(root, "cl", 0L) }
    // refused filesystem delete is loud: the cursor would keep clamping
    // protectConsumers retention while the call reported success
    spark.sparkContext.hadoopConfiguration
      .set("fs.rdtest.impl", classOf[RefusedDeleteTestFs].getName)
    val rroot = "rdtest:" + tmp()
    Ripple.createTopic(rroot, "clr", numBuckets = 1)
    graft.connector.ConsumerOffsets.commit(rroot, "clr", "c-nodelete", Map("b0000" -> 1L))
    val e = intercept[java.io.IOException] {
      Ripple.deleteConsumer(rroot, "clr", "c-nodelete")
    }
    assert(e.getMessage.contains("clamps"), e.getMessage)
    assert(Ripple.consumerOffsets(rroot, "clr").keySet == Set("c-nodelete"),
      "consumer must survive a refused delete")
  }

  test("crashed evolve's orphan version: currentVersion reconciles to the pointer, next evolve allocates past it") {
    import org.apache.spark.sql.types._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val v1 = StructType(Seq(StructField("a", LongType)))
    Ripple.createTopic(root, "orph", 1, v1)
    val v2 = StructType(v1.fields :+ StructField("b", StringType, nullable = true))
    Ripple.evolveTopicSchema(root, "orph", v2)
    assert(graft.connector.TopicSchemas.currentVersion(log, "orph").contains(2))
    // simulate a crash between evolve's create-exclusive version claim and
    // its pointer write: an orphan v-00003 whose schema never became current
    val orphan = StructType(v2.fields :+ StructField("c", DoubleType, nullable = true))
    log.writeFileAtomic(new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(log.root, "orph"), ".schema-versions"), "v-00003"),
      orphan.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the orphan must NOT read as current — snapshots would pin a schemaV
    // that was never the registered shape
    assert(graft.connector.TopicSchemas.currentVersion(log, "orph").contains(2))
    val (_, _, sv) = graft.connector.TopicSnapshot.decode(Ripple.snapshot(root, "orph"))
    assert(sv.contains(2), s"snapshot pinned $sv, expected the pointer's version 2")
    // the next evolution allocates PAST the orphan's claimed number
    val v4 = StructType(v2.fields :+ StructField("d", StringType, nullable = true))
    Ripple.evolveTopicSchema(root, "orph", v4)
    assert(graft.connector.TopicSchemas.currentVersion(log, "orph").contains(4))
    assert(graft.connector.TopicSchemas.schemaAt(log, "orph", 4) == v4)
  }

  test("distributed compaction (rename mode): executors move the bytes, the driver swaps manifests only") {
    val root = tmp()
    Ripple.createTopic(root, "dc", numBuckets = 2)
    (0 until 6).foreach(_ => Ripple.write(samplePayloads(200), root, "dc", numBuckets = 2))
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segsBefore = Seq("b0000", "b0001")
      .map(b => log.segments(graft.model.TopicBucket("dc", b)).size).sum
    assert(segsBefore > 2, s"need a multi-segment topic, got $segsBefore")
    def snap(): Set[(String, Long, Int)] = Ripple.read(spark, root, "dc")
      .select("bucket", "offset", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val before = snap()
    val d0 = graft.log.FileTopicLog.localConcatBytes.get
    // distributeMinBytes = 0: EVERY merge runs as a Spark task
    assert(Ripple.compactSegments(spark, root, "dc", 128L << 20, 0L) == segsBefore)
    assert(graft.log.FileTopicLog.localConcatBytes.get == d0,
      "zero data bytes may move through the driver when merges distribute")
    assert(log.segments(graft.model.TopicBucket("dc", "b0000")).size == 1)
    assert(snap() == before, "compaction must be invisible to reads")
    // threshold routing: below-threshold merges stay driver-local
    (0 until 2).foreach(_ => Ripple.write(samplePayloads(50), root, "dc", numBuckets = 2))
    assert(Ripple.compactSegments(spark, root, "dc", 128L << 20, Long.MaxValue) > 0)
    assert(graft.log.FileTopicLog.localConcatBytes.get > d0,
      "small merges take the driver-local path (job latency > copy)")
    assert(snap().size == before.size + 100)
  }

  test("distributed compaction: duplicate attempts of one merge stay isolated (attempt-unique staging)") {
    // the zombie-attempt hazard: a retried task whose original attempt is
    // still writing must not interleave bytes into the same staging file.
    // Emulated by running the SAME ConcatTask through the distributed
    // runner from two threads at once (two Spark jobs = two task
    // attempts); each attempt writes and returns its own file, so either
    // returned path is intact and nothing is renamed.
    val root = tmp()
    Ripple.createTopic(root, "dup", numBuckets = 1)
    (0 until 6).foreach(_ => Ripple.write(samplePayloads(100), root, "dup", numBuckets = 1))
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("dup", "b0000")
    val segs = log.segments(tb)
    val bytes = segs.map(s => log.fs.getFileStatus(s._1).getLen).sum
    val out = new org.apache.hadoop.fs.Path(log.bucketDir(tb),
      graft.log.SegmentCodec.dataName(0L, segs.map(_._3).sum))
    val task = graft.log.ConcatTask(segs.map(_._1.toString), out.toString, bytes)
    val runner = graft.connector.DistributedConcat.runner(spark, log, minBytes = 0L)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val t1 = new Thread(() => results.add(runner(Seq(task))))
    val t2 = new Thread(() => results.add(runner(Seq(task))))
    t1.start(); t2.start(); t1.join(); t2.join()
    val written = results.toArray(Array.empty[Map[String, String]]).toSeq.map(_(out.toString))
    assert(written.size == 2 && written.distinct.size == 2,
      s"each attempt writes its own file: $written")
    assert(!log.fs.exists(out), "no attempt writes (or renames onto) the planned name")
    // byte identity: each attempt's file is the member concatenation
    val expected = segs.flatMap(s =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s._1.toUri)).toSeq)
    written.foreach { w =>
      val p = new org.apache.hadoop.fs.Path(w)
      assert(p.getParent == log.bucketDir(tb) &&
        p.getName.startsWith(out.getName.stripSuffix(graft.log.SegmentCodec.SegmentSuffix) + "-a"),
        s"an attempt's file keeps the planned data-name fields: $w")
      val got = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p.toUri)).toSeq
      assert(got == expected, "duplicate attempts never interleave writes")
    }
    // both are uncommitted data files: vacuum sweeps them once past grace
    assert(log.vacuum("dup", graceMs = 0L, nowMillis = System.currentTimeMillis() + 1000L) >= 2)
    written.foreach(w => assert(!log.fs.exists(new org.apache.hadoop.fs.Path(w))))
  }

  test("distributed compaction tolerates a member vanishing mid-concat (racing retention)") {
    val root = tmp()
    Ripple.createTopic(root, "dvan", numBuckets = 2)
    (0 until 4).foreach(_ => Ripple.write(samplePayloads(100), root, "dvan", numBuckets = 2))
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    def snap(): Set[(String, Long, Int)] = Ripple.read(spark, root, "dvan")
      .select("bucket", "offset", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val before = snap()
    val b0 = graft.model.TopicBucket("dvan", "b0000")
    val victim = log.segments(b0).head
    // sandwich strategy: a REAL retention call lands between plan and the
    // distributed byte move (the unlocked phase-2 window) and truncates a
    // b0000 member away, then the real distributed runner executes
    val inner = graft.connector.DistributedConcat.runner(spark, log, minBytes = 0L)
    val sandwiched: Seq[graft.log.ConcatTask] => Map[String, String] = { tasks =>
      assert(log.truncateBefore("dvan",
        Map("b0000" -> (victim._2 + victim._3))) == 1)
      inner(tasks)
    }
    // succeeds: b0000's group is dropped, b0001's merge lands
    val merged = log.compactSegments("dvan", targetBytes = 128L << 20,
      minSegments = 2, concat = sandwiched)
    assert(merged > 0, "the unaffected bucket still compacts")
    assert(log.segments(graft.model.TopicBucket("dvan", "b0001")).size == 1,
      "b0001 merged despite b0000's vanished member")
    val after = snap()
    assert(after == before.filterNot { case (b, o, _) =>
      b == "b0000" && o >= victim._2 && o < victim._2 + victim._3 },
      "exactly the deleted member's rows are missing")
  }

  test("distributed compaction (manifest mode, object-store rig): one data PUT per merge, zero driver bytes") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    val root = "ostest:" + tmp()
    Ripple.createTopic(root, "dco", numBuckets = 2)
    (0 until 5).foreach(_ => Ripple.write(samplePayloads(100), root, "dco", numBuckets = 2))
    val before = Ripple.read(spark, root, "dco").select("bucket", "offset", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val logO = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segsBeforeO = Seq("b0000", "b0001")
      .map(b => logO.segments(graft.model.TopicBucket("dco", b)).size).sum
    val d0 = graft.log.FileTopicLog.localConcatBytes.get
    ObjectStoreTestFs.dataPuts.set(0)
    ObjectStoreTestFs.dataCopies.set(0)
    assert(Ripple.compactSegments(spark, root, "dco", 128L << 20, 0L) == segsBeforeO)
    assert(ObjectStoreTestFs.dataPuts.get == 2,
      s"one data PUT per merged file (2 buckets), got ${ObjectStoreTestFs.dataPuts.get}")
    assert(ObjectStoreTestFs.dataCopies.get == 0,
      s"no server-side copy of a data object, got ${ObjectStoreTestFs.dataCopies.get}")
    assert(graft.log.FileTopicLog.localConcatBytes.get == d0,
      "zero data bytes may move through the driver when merges distribute")
    assert(Ripple.read(spark, root, "dco").select("bucket", "offset", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet == before)
  }

  test("autoCompactSegments with distributed merges: the sink's commit path does metadata only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = tmp()
    Ripple.createTopic(root, "acd", numBuckets = 1)
    val d0 = graft.log.FileTopicLog.localConcatBytes.get
    val mem = MemoryStream[Int]
    val q = mem.toDF().selectExpr("value as id", "cast(cast(value as string) as binary) as data")
      .writeStream.format("ripple")
      .option("path", root).option("topic", "acd").option("buckets", 1)
      .option("autoCompactSegments", 5)
      .option("compactDistributeMinBytes", 0) // every merge: a Spark job
      .option("checkpointLocation", tmp()).start()
    try {
      (0 until 12).foreach { e =>
        mem.addData(e * 3, e * 3 + 1, e * 3 + 2)
        q.processAllAvailable()
      }
    } finally q.stop()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segs = log.segments(graft.model.TopicBucket("acd", "b0000")).size
    assert(segs < 12 && segs <= 5, s"auto-compaction must bound segments, got $segs")
    assert(graft.log.FileTopicLog.localConcatBytes.get == d0,
      "the streaming commit path must not relay merge bytes through the driver")
    val rows = Ripple.read(spark, root, "acd").select("offset", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 36L), "offsets dense after merges")
    assert(rows.map(_._2).toSeq == (0 until 36), "row content/order intact")
  }

  test("autoCompactSegments: streaming epochs stay merged in place, rows intact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = tmp()
    Ripple.createTopic(root, "ac", numBuckets = 1)
    val mem = MemoryStream[Int]
    val q = mem.toDF().selectExpr("value as id", "cast(cast(value as string) as binary) as data")
      .writeStream.format("ripple")
      .option("path", root).option("topic", "ac").option("buckets", 1)
      .option("autoCompactSegments", 5)
      .option("checkpointLocation", tmp()).start()
    try {
      // 12 epochs → 12 tiny segments without compaction; the threshold
      // keeps the live count bounded as the stream runs
      (0 until 12).foreach { e =>
        mem.addData(e * 3, e * 3 + 1, e * 3 + 2)
        q.processAllAvailable()
      }
    } finally q.stop()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segs = log.segments(graft.model.TopicBucket("ac", "b0000")).size
    assert(segs < 12 && segs <= 5, s"auto-compaction must bound segments, got $segs")
    val rows = Ripple.read(spark, root, "ac").select("offset", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L until 36L), "offsets dense after merges")
    assert(rows.map(_._2).toSeq == (0 until 36), "row content/order intact")
  }

  test("retentionBytes sink option bounds the topic footprint at publish time") {
    val root = tmp()
    Ripple.createTopic(root, "rb", numBuckets = 1)
    def writeOne(budget: Option[Long]): Unit = {
      var w = samplePayloads(10).coalesce(1).write.format("ripple")
        .option("path", root).option("topic", "rb").option("buckets", 1)
      budget.foreach(b => w = w.option("retentionBytes", b))
      w.mode("append").save()
    }
    writeOne(None) // seg [0,10)
    writeOne(None) // seg [10,20)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val segBytes = log.segments(graft.model.TopicBucket("rb", "b0000"))
      .map { case (p, _, _) => log.fs.getFileStatus(p).getLen }
    // third publish carries a budget of ~two segments: the oldest expires
    // at publish time, exactly like retentionMs
    writeOne(Some(segBytes.sum))
    assert(Ripple.earliestOffsets(root, "rb") == Map("b0000" -> 10L),
      "publish-time byte retention advances the floor")
    assert(Ripple.endOffsets(root, "rb") == Map("b0000" -> 30L))
    assert(Ripple.read(spark, root, "rb").count() == 20)
  }

  test("consumer-protecting retention: truncateBefore refuses to cross the minimum live cursor") {
    val root = tmp()
    Ripple.createTopic(root, "cp", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "cp") // seg [0,10)
    Ripple.write(samplePayloads(10).coalesce(1), root, "cp") // seg [10,20)
    Ripple.write(samplePayloads(10).coalesce(1), root, "cp") // seg [20,30)

    // two registered consumers; the slower one has committed through 12
    graft.connector.ConsumerOffsets.commit(root, "cp", "slow", Map("b0000" -> 12L))
    graft.connector.ConsumerOffsets.commit(root, "cp", "fast", Map("b0000" -> 25L))

    // protected: the requested floor 30 clamps to min cursor 12 → only the
    // fully-consumed [0,10) segment is deletable
    assert(Ripple.truncateBefore(root, "cp", 30L, protectConsumers = true) == 1)
    assert(Ripple.earliestOffsets(root, "cp") == Map("b0000" -> 10L))

    // status surface: lag vs floor, nothing lost yet (unreadTs now carries
    // the first unconsumed record's wall-clock stamp — only its presence
    // is deterministic here)
    val st = Ripple.consumerStatus(root, "cp")
    assert(st("slow")("b0000").copy(unreadTs = None)
      == Ripple.ConsumerPosition(12L, 30L, 10L))
    assert(st("slow")("b0000").unreadTs.isDefined)
    assert(st("slow")("b0000").lag == 18L && st("slow")("b0000").lostToRetention == 0L)
    assert(st("fast")("b0000").lag == 5L)

    // unprotected retention crosses the cursor; the loss becomes VISIBLE
    // in the status (and the slow consumer's next resume would trip the
    // data-loss guard)
    assert(Ripple.truncateBefore(root, "cp", 30L) == 1) // [10,20) now gone
    assert(Ripple.earliestOffsets(root, "cp") == Map("b0000" -> 20L))
    val st2 = Ripple.consumerStatus(root, "cp")
    assert(st2("slow")("b0000").lostToRetention == 8L,
      "offsets [12,20) were truncated past the slow cursor")
    assert(st2("fast")("b0000").lostToRetention == 0L)

    // protection is per BUCKET: a consumer that never committed a bucket
    // does not pin it
    Ripple.createTopic(root, "cp2", numBuckets = 2)
    Ripple.write(samplePayloads(20), root, "cp2", numBuckets = 2) // 10 per bucket
    Ripple.write(samplePayloads(20), root, "cp2", numBuckets = 2)
    graft.connector.ConsumerOffsets.commit(root, "cp2", "half", Map("b0000" -> 3L))
    Ripple.truncateBefore(root, "cp2", 20L, protectConsumers = true)
    val floors = Ripple.earliestOffsets(root, "cp2")
    assert(floors("b0000") <= 3L, s"b0000 pinned by the cursor: $floors")
    assert(floors("b0001") >= 10L, s"b0001 unpinned: $floors")
  }

  test("rate-capped resume under allowDataLoss drains all survivors past the floor") {
    // the lost range inflates the backlog the admission control allocates
    // from, so the first post-truncation epochs can land entirely inside
    // the lost range (planned empty) — they must still ADVANCE the
    // checkpoint until it crosses the floor and the survivors drain
    val root = tmp()
    Ripple.createTopic(root, "dlc", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dlc") // [0,10)
    val ckpt = tmp()
    val out = tmp()
    def start() = spark.readStream.format("ripple")
      .option("path", root).option("topic", "dlc")
      .option("maxOffsetsPerTrigger", 4).option("allowDataLoss", true)
      .load().select("offset").writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val q1 = start()
    assert(q1.awaitTermination(60000))
    assert(spark.read.parquet(out).count() == 10) // committed through 10

    Ripple.write(samplePayloads(10).coalesce(1), root, "dlc") // [10,20)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dlc") // [20,30)
    Ripple.truncateBefore(root, "dlc", 20) // [10,20) lost; committed=10 < 20
    val q2 = start()
    assert(q2.awaitTermination(60000))
    assert(spark.read.parquet(out).select("offset").collect()
      .map(_.getLong(0)).sorted.toSeq == ((0L until 10L) ++ (20L until 30L)),
      "every surviving row past the floor must arrive despite the rate cap")
  }

  test("fresh stream on a truncated topic starts at the floor (no guard trip)") {
    val root = tmp()
    Ripple.createTopic(root, "dlf", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "dlf")
    Ripple.write(samplePayloads(10).coalesce(1), root, "dlf")
    Ripple.truncateBefore(root, "dlf", 10)

    val q = Ripple.readStream(spark, root, "dlf")
      .writeStream.format("memory").queryName("dlf_out")
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    assert(spark.table("dlf_out").select("offset").collect()
      .map(_.getLong(0)).sorted.toSeq == (10L until 20L))
  }

  test("snapshot pin: appends after capture are invisible; compaction transparent; COUNT(*) exact") {
    val root = tmp()
    Ripple.createTopic(root, "sn", numBuckets = 3)
    Ripple.write(samplePayloads(60), root, "sn", numBuckets = 3)
    val before = Ripple.read(spark, root, "sn")
      .select("bucket", "offset", "id").collect().map(_.toString).sorted.toSeq
    val token = Ripple.snapshot(root, "sn")

    Ripple.write(samplePayloads(40), root, "sn", numBuckets = 3) // post-capture
    Ripple.compactSegments(root, "sn") // offsets preserved by contract

    val pinned = Ripple.readSnapshot(spark, root, "sn", token)
    assert(pinned.select("bucket", "offset", "id").collect()
      .map(_.toString).sorted.toSeq == before,
      "pinned read must reproduce the captured corpus exactly")
    // COUNT(*) declines the metadata shortcut under a pin but stays exact
    assert(pinned.count() == 60)
    // the pin composes with pushed offset bounds (intersection)
    assert(pinned.filter(col("offset") >= 10).count() ==
      before.count(_ => true) - 3 * 10)
  }

  test("snapshot pin: retention past a pinned floor fails loudly; allowDataLoss proceeds from the floor") {
    val root = tmp()
    Ripple.createTopic(root, "snr", numBuckets = 1)
    Ripple.write(samplePayloads(10).coalesce(1), root, "snr") // seg [0,10)
    Ripple.write(samplePayloads(10).coalesce(1), root, "snr") // seg [10,20)
    val token = Ripple.snapshot(root, "snr") // pins [0, 20)
    assert(Ripple.truncateBefore(root, "snr", 10) == 1) // [0,10) gone

    val e = intercept[Exception] {
      Ripple.readSnapshot(spark, root, "snr", token).count()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("retention"),
      s"error must say retention truncated the pinned rows: $msg")

    val skipped = spark.read.format("ripple")
      .option("path", root).option("topic", "snr")
      .option("snapshot", token).option("allowDataLoss", true).load()
    assert(skipped.select("offset").collect().map(_.getLong(0)).sorted.toSeq
      == (10L until 20L))
  }

  test("registered snapshot pins: a live pin blocks every retention cut; unpinned proceeds") {
    val root = tmp()
    Ripple.createTopic(root, "pin", numBuckets = 1)
    (0 until 4).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "pin", numBuckets = 1))
    val token = Ripple.pinSnapshot(root, "pin", "run-2026-08-15") // pins [0, 40)
    (0 until 2).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "pin", numBuckets = 1))
    // every retention policy is clamped to the pinned floor (0): no cut
    assert(Ripple.truncateBefore(root, "pin", 40L) == 0, "offset cut blocked")
    assert(Ripple.truncateOlderThan(root, "pin", 0L) == 0, "time cut blocked")
    assert(Ripple.truncateToBytes(root, "pin", 1L) == 0, "byte cut blocked")
    // the pinned corpus reads exactly
    assert(Ripple.readSnapshot(spark, root, "pin", token).count() == 40)
    // pins are immutable: re-pinning a name is loud
    intercept[IllegalStateException] { Ripple.pinSnapshot(root, "pin", "run-2026-08-15") }
    // drop → the same cuts proceed
    Ripple.dropSnapshot(root, "pin", "run-2026-08-15")
    intercept[IllegalArgumentException] { Ripple.dropSnapshot(root, "pin", "run-2026-08-15") }
    assert(Ripple.truncateBefore(root, "pin", 40L) == 4, "unpinned cut proceeds")
    // ... and the (now-unregistered) token fails LOUDLY at read, as ever
    val e = intercept[Exception] { Ripple.readSnapshot(spark, root, "pin", token).count() }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("retention"), s"pinned read loud after the cut: $msg")
  }

  test("registered snapshot pins: explicit override cuts anyway, pinned read stays loud") {
    val root = tmp()
    Ripple.createTopic(root, "pino", numBuckets = 1)
    (0 until 3).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "pino", numBuckets = 1))
    val token = Ripple.pinSnapshot(root, "pino", "keep") // pins [0, 30)
    // protection explicitly overridden: the cut happens (a stated decision)
    assert(Ripple.truncateBefore(root, "pino", 10L, protectSnapshots = false) == 1)
    // the q153 contract is unchanged: the pin's next read is LOUD
    val e = intercept[Exception] { Ripple.readSnapshot(spark, root, "pino", token).count() }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("retention"), s"overridden pin read loud: $msg")
  }

  test("registered snapshot pins: expiry — an expired pin protects nothing and vacuums") {
    val root = tmp()
    Ripple.createTopic(root, "pine", numBuckets = 1)
    (0 until 3).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "pine", numBuckets = 1))
    Ripple.pinSnapshot(root, "pine", "ttl", ttlMs = 1L)
    Ripple.pinSnapshot(root, "pine", "forever") // no expiry: never collected
    Thread.sleep(10)
    assert(Ripple.truncateBefore(root, "pine", 10L) == 0,
      "the live no-expiry pin still blocks")
    assert(Ripple.vacuumSnapshots(root, "pine") == 1, "expired pin collected")
    assert(Ripple.snapshots(root, "pine").map(_.name) == Seq("forever"))
    Ripple.dropSnapshot(root, "pine", "forever")
    assert(Ripple.truncateBefore(root, "pine", 10L) == 1)
  }

  test("registered snapshot pins: deleteTopic refuses on a live pin; force overrides") {
    val root = tmp()
    Ripple.createTopic(root, "pind", numBuckets = 1)
    Ripple.write(samplePayloads(10), root, "pind", numBuckets = 1)
    Ripple.pinSnapshot(root, "pind", "corpus-v1")
    val e = intercept[IllegalStateException] { Ripple.deleteTopic(root, "pind") }
    assert(e.getMessage.contains("corpus-v1"), e.getMessage)
    assert(Ripple.deleteTopic(root, "pind", force = true) == 1)
    assert(!Ripple.topics(root).contains("pind"))
  }

  test("registered snapshot pins clamp the SINK's retention (the routine-retention-job path)") {
    val root = tmp()
    Ripple.createTopic(root, "pins", numBuckets = 1)
    (0 until 3).foreach(_ => Ripple.write(samplePayloads(10).coalesce(1), root, "pins", numBuckets = 1))
    val token = Ripple.pinSnapshot(root, "pins", "train") // pins [0, 30)
    // a sink write with an aggressive byte budget: without the pin this
    // would truncate everything but the newest segment
    def sinkWrite(): Unit = samplePayloads(10).coalesce(1)
      .write.format("ripple")
      .option("path", root).option("topic", "pins").option("buckets", 1)
      .option("retentionBytes", 1L)
      .mode("append").save()
    sinkWrite()
    assert(Ripple.readSnapshot(spark, root, "pins", token).count() == 30,
      "the sink's retention was clamped to the pinned floor")
    // unpin → the next sink commit's retention cuts to the byte budget
    Ripple.dropSnapshot(root, "pins", "train")
    sinkWrite()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    assert(log.firstOffset(graft.model.TopicBucket("pins", "b0000")) > 0L,
      "unpinned: the sink's retention advanced the floor")
  }

  test("snapshot token is refused on the wrong topic, malformed input, streaming, and a vanished bucket") {
    val root = tmp()
    Ripple.createTopic(root, "sna", numBuckets = 1)
    Ripple.write(samplePayloads(5).coalesce(1), root, "sna")
    Ripple.createTopic(root, "snb", numBuckets = 1)
    val token = Ripple.snapshot(root, "sna")

    val wrongTopic = intercept[IllegalArgumentException] {
      Ripple.readSnapshot(spark, root, "snb", token).count()
    }
    assert(wrongTopic.getMessage.contains("sna"))

    intercept[IllegalArgumentException] {
      Ripple.readSnapshot(spark, root, "sna", "{\"v\":7}").count()
    }

    val streaming = intercept[Exception] {
      spark.readStream.format("ripple")
        .option("path", root).option("topic", "sna").option("snapshot", token)
        .load().writeStream.format("memory").queryName("sn_refuse")
        .option("checkpointLocation", tmp())
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    val smsg = Option(streaming.getMessage).getOrElse("") +
      Option(streaming.getCause).map(_.getMessage).getOrElse("")
    assert(smsg.contains("snapshot"), s"streaming must refuse the pin: $smsg")

    // a pinned bucket that no longer exists on disk fails, never shrinks
    val forged = token.replace("\"b0000\"", "\"b9999\"")
    val gone = intercept[Exception] {
      Ripple.readSnapshot(spark, root, "sna", forged).count()
    }
    val gmsg = Option(gone.getMessage).getOrElse("") +
      Option(gone.getCause).map(_.getMessage).getOrElse("")
    assert(gmsg.contains("b9999"), s"must name the vanished bucket: $gmsg")
  }

  test("snapshot pin works over the object-store rig (manifest commit mode)") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    val root = "ostest:" + tmp()
    Ripple.createTopic(root, "snos", numBuckets = 2)
    Ripple.write(samplePayloads(20), root, "snos", numBuckets = 2)
    val token = Ripple.snapshot(root, "snos")
    Ripple.write(samplePayloads(20), root, "snos", numBuckets = 2)
    Ripple.compactSegments(root, "snos")
    val pinned = Ripple.readSnapshot(spark, root, "snos", token)
    assert(pinned.count() == 20)
    assert(pinned.select("id").collect().map(_.getInt(0)).sorted.toSeq
      == (0 until 20))
  }

  test("timestamp seek: batch [from,until) per bucket, streaming fresh start, refusals") {
    import spark.implicits._
    val root = tmp()
    // id i → ts = 1000·i ms, routed i % 2; one ts-sorted input partition so
    // each bucket's offsets are ts-monotone and every expectation is exact
    val df = (0 until 40).map(i =>
        (i, s"m$i".getBytes("UTF-8"), new java.sql.Timestamp(1000L * i)))
      .toDF("id", "data", "ts").repartition(1).sortWithinPartitions("id")
    Ripple.createTopic(root, "tsk", numBuckets = 2)
    Ripple.write(df, root, "tsk", numBuckets = 2)

    // metadata seek: first per-bucket offset with ts >= 20 s (b0000 holds
    // even ids: offset j ↔ ts 2000·j; b0001 odd: ts (2j+1)·1000)
    assert(Ripple.offsetsForTimestamp(root, "tsk", 20000L)
      == Map("b0000" -> 10L, "b0001" -> 10L))
    // freshness: newest record ts per bucket (even max 38 s, odd 39 s)
    assert(Ripple.latestTimestamps(root, "tsk")
      == Map("b0000" -> 38000L, "b0001" -> 39000L))

    def ids(d: org.apache.spark.sql.DataFrame): Seq[Int] =
      d.select("id").as[Int].collect().sorted.toSeq
    // [from, until): exactly the records with ts in [20 s, 30 s)
    assert(ids(Ripple.readTimestamp(spark, root, "tsk", 20000L, 30000L))
      == (20 until 30))
    assert(ids(Ripple.readTimestamp(spark, root, "tsk", 35000L)) == (35 until 40))
    // COUNT(*) declines the metadata shortcut under a seek (a metadata
    // answer would ignore the resolved per-bucket ranges → 40)
    assert(Ripple.readTimestamp(spark, root, "tsk", 20000L, 30000L).count() == 10L)
    assert(Ripple.readTimestamp(spark, root, "tsk", 10_000_000L).count() == 0L)
    assert(Ripple.readTimestamp(spark, root, "tsk", 0L).count() == 40L)

    // a fresh streaming checkpoint seeds from the seek
    val q = spark.readStream.format("ripple").option("path", root)
      .option("topic", "tsk").option("startingTimestamp", 30000L)
      .load().writeStream.format("memory").queryName("ts_seek_out")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("ts_seek_out")) == (30 until 40))
    } finally q.stop()

    // refusals: two fixed starts; a pin plus a seek; a bounded stream
    intercept[IllegalArgumentException] {
      spark.read.format("ripple").option("path", root).option("topic", "tsk")
        .option("startingTimestamp", 0L).option("startingOffset", 0L)
        .load().count()
    }
    val token = Ripple.snapshot(root, "tsk")
    intercept[IllegalArgumentException] {
      spark.read.format("ripple").option("path", root).option("topic", "tsk")
        .option("startingTimestamp", 0L).option("snapshot", token)
        .load().count()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("ripple").option("path", root).option("topic", "tsk")
        .option("startingTimestamp", 5L).option("endingTimestamp", 5L)
        .load().count()
    }
    val streaming = intercept[Exception] {
      spark.readStream.format("ripple").option("path", root)
        .option("topic", "tsk").option("endingTimestamp", 30000L)
        .load().writeStream.format("memory").queryName("ts_refuse")
        .option("checkpointLocation", tmp())
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
    }
    val smsg = Option(streaming.getMessage).getOrElse("") +
      Option(streaming.getCause).map(_.getMessage).getOrElse("")
    assert(smsg.contains("endingTimestamp"), s"stream must refuse the bound: $smsg")
  }

  test("multi-topic subscribe: batch union, pattern, qualified streaming offsets, per-topic cursors, refusals") {
    import spark.implicits._
    val root = tmp()
    // colliding bucket names by construction (both topics have b0000/b0001)
    Ripple.createTopic(root, "mtA", numBuckets = 2)
    Ripple.createTopic(root, "mtB", numBuckets = 2)
    Ripple.write(samplePayloads(10), root, "mtA", numBuckets = 2)
    Ripple.write(samplePayloads(6).withColumn("id", col("id") + 100),
      root, "mtB", numBuckets = 2)

    def ids(d: org.apache.spark.sql.DataFrame): Seq[Int] =
      d.select("id").as[Int].collect().sorted.toSeq
    val both = Ripple.readTopics(spark, root, Seq("mtA", "mtB"))
    assert(ids(both) == ((0 until 10) ++ (100 until 106)))
    // topic column disambiguates the colliding bucket names
    assert(both.groupBy("topic").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
      == Map("mtA" -> 10L, "mtB" -> 6L))
    // metadata COUNT(*) sums across the subscription
    assert(both.count() == 16)
    // pattern subscribe resolves against the log; no match is loud
    assert(ids(Ripple.readPattern(spark, root, "mt[AB]")) ==
      ((0 until 10) ++ (100 until 106)))
    intercept[IllegalArgumentException] {
      Ripple.readPattern(spark, root, "nosuch.*").count()
    }

    // streaming: two epochs; qualified topic/bucket offset keys mean an
    // append to ONE topic surfaces alone, and a consumerId lands one
    // cursor per topic
    val q = Ripple.readStream(spark, root, "mtA,mtB",
        consumerId = Some("mtgrp"))
      .writeStream.format("memory").queryName("mt_out")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(ids(spark.table("mt_out")) == ((0 until 10) ++ (100 until 106)))
      Ripple.write(samplePayloads(3).withColumn("id", col("id") + 200),
        root, "mtB", numBuckets = 2)
      q.processAllAvailable()
      assert(ids(spark.table("mt_out"))
        == ((0 until 10) ++ (100 until 106) ++ (200 until 203)))
      // cursors trail by one epoch (committed as the NEXT batch runs);
      // a third epoch flushes the second's commit
      Ripple.write(samplePayloads(1).withColumn("id", col("id") + 250),
        root, "mtA", numBuckets = 2)
      q.processAllAvailable()
    } finally q.stop()
    val curA = Ripple.consumerOffsets(root, "mtA")("mtgrp").values.sum
    val curB = Ripple.consumerOffsets(root, "mtB")("mtgrp").values.sum
    assert(curA == 10L, s"mtA cursor (epoch-3 commit still pending): $curA")
    assert(curB == 9L, s"mtB cursor: $curB")

    // timestamp seek composes: per-(topic, bucket) resolution
    val tdf = (0 until 8).map(i =>
        (i + 300, s"t$i".getBytes("UTF-8"), new java.sql.Timestamp(1000L * i)))
      .toDF("id", "data", "ts").repartition(1).sortWithinPartitions("id")
    Ripple.createTopic(root, "mtC", numBuckets = 1)
    Ripple.createTopic(root, "mtD", numBuckets = 1)
    Ripple.write(tdf, root, "mtC", numBuckets = 1)
    Ripple.write(tdf.withColumn("id", col("id") + 100), root, "mtD",
      numBuckets = 1)
    assert(ids(Ripple.readTimestamp(spark, root, "mtC,mtD", 5000L))
      == Seq(305, 306, 307, 405, 406, 407))

    // refusals: writes target one topic; a snapshot pins one topic
    intercept[IllegalArgumentException] {
      Ripple.write(samplePayloads(1), root, "mtA,mtB", numBuckets = 2)
    }
    val token = Ripple.snapshot(root, "mtA")
    intercept[IllegalArgumentException] {
      spark.read.format("ripple").option("path", root)
        .option("topic", "mtA,mtB").option("snapshot", token).load().count()
    }
    // lifted multi-topic read demands ONE registered schema
    import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
    graft.connector.TopicSchemas.register(
      graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf),
      "mtA", StructType(Seq(StructField("a", LongType))))
    graft.connector.TopicSchemas.register(
      graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf),
      "mtB", StructType(Seq(StructField("b", StringType))))
    val mismatch = intercept[IllegalArgumentException] {
      spark.read.format("ripple").option("path", root)
        .option("topic", "mtA,mtB").option("lift", true).load().count()
    }
    assert(mismatch.getMessage.contains("ONE registered schema"))
  }

  test("single-topic query on a multi-topic checkpoint fails loudly (symmetric guard)") {
    import graft.connector.{RippleConf, RippleMicroBatchStream, RippleOffset}
    spark.sparkContext // RippleConf's default hconf broadcast needs the session
    val root = tmp()
    Ripple.createTopic(root, "sgA", 1)
    // Multi-topic checkpoints key offsets as 'topic/bucket'. A SINGLE-topic
    // query resuming one would find no matching bare-bucket keys and fall
    // back to startingOffset for every bucket — re-reading the whole topic
    // as silent duplicates. keyBucket already fails loudly in the reverse
    // direction; the resume path must be guarded symmetrically.
    val conf = RippleConf(root, "sgA", None, 1, 0L, Long.MaxValue, Long.MaxValue)
    val stream = new RippleMicroBatchStream(conf, graft.model.Schemas.envelope)
    val multiJson = """{"sgA/b0000":3,"sgB/b0000":5}"""
    val e = intercept[IllegalStateException] { stream.deserializeOffset(multiJson) }
    assert(e.getMessage.contains("multi-topic") &&
      e.getMessage.contains("single topic"), e.getMessage)
    // a bare single-topic offset still round-trips
    assert(stream.deserializeOffset("""{"b0000":3}""")
      .asInstanceOf[RippleOffset].ends == Map("b0000" -> 3L))
    // and the reverse direction keeps its existing loud error
    val mconf = RippleConf(root, "sgA", None, 1, 0L, Long.MaxValue,
      Long.MaxValue, topics = Seq("sgA", "sgB"))
    intercept[IllegalStateException] { mconf.keyBucket("b0000") }
  }

  test("ts-predicate segment pruning + metadata MIN/MAX aggregate pushdown") {
    import spark.implicits._
    val root = tmp()
    // four writes = four segments per bucket, each spanning a disjoint
    // 10 s window; a single b0000 bucket keeps the arithmetic exact
    Ripple.createTopic(root, "tp", numBuckets = 1)
    (0 until 4).foreach { w =>
      val df = (0 until 10).map { j =>
        val i = w * 10 + j
        (i, s"x$i".getBytes("UTF-8"), new java.sql.Timestamp(10000L * w + 100L * j))
      }.toDF("id", "data", "ts").repartition(1).sortWithinPartitions("id")
      Ripple.write(df, root, "tp", numBuckets = 1)
    }
    // publish-time stats: the connector writes above committed each
    // segment under a record carrying the writer-tracked (min, max)
    val stamped = new graft.log.FileTopicLog(java.nio.file.Paths.get(root))
      .segmentRecords(graft.model.TopicBucket("tp", "b0000"))
      .map { case (_, m) => (m.minTs, m.maxTs) }
    assert(stamped == Seq((0L, 900L), (10000L, 10900L), (20000L, 20900L), (30000L, 30900L)),
      s"4 segments with recorded (min,max): $stamped")

    val env = Ripple.read(spark, root, "tp")
    assert(env.rdd.getNumPartitions == 4, "four segments planned unpruned")

    // ts >= 20s: the first two segments' stats miss the predicate — the
    // scan must plan HALF the partitions, and the (re-applied) predicate
    // keeps the result exact
    val late = env.filter(col("ts") >= lit(new java.sql.Timestamp(20000L)))
    assert(late.rdd.getNumPartitions == 2, "stats must prune 2 of 4 segments")
    assert(late.select("id").as[Int].collect().sorted.toSeq == (20 until 40))
    // both-sided window prunes to one segment
    val mid = env.filter(col("ts") >= lit(new java.sql.Timestamp(10000L)) &&
      col("ts") < lit(new java.sql.Timestamp(20000L)))
    assert(mid.rdd.getNumPartitions == 1, "window must prune to 1 segment")
    assert(mid.select("id").as[Int].collect().sorted.toSeq == (10 until 20))
    // pruning composes with the lifted (_ts) column names
    import org.apache.spark.sql.types.{StructType, StructField, IntegerType}
    val lifted = Ripple.lift(env, StructType(Seq(StructField("id", IntegerType))))
      .filter(col("_ts") >= lit(new java.sql.Timestamp(30000L)))
    assert(lifted.rdd.getNumPartitions == 1)
    assert(lifted.select(col("_id")).as[Int].collect().length == 10)

    // metadata aggregates: one row, zero frame partitions, plan-visible
    val agg = env.agg(
      count(lit(1)).as("n"),
      min(col("offset")).as("min_off"), max(col("offset")).as("max_off"),
      unix_millis(min(col("ts"))).as("min_ts"),
      unix_millis(max(col("ts"))).as("max_ts"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-agg"),
      "aggregate must ride the metadata scan")
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      == ((40L, 0L, 39L, 0L, 30900L)))
    // offset extrema stay metadata under offset bounds (dense offsets);
    // ts extrema then DECLINE (segment stats can't describe a cut range)
    val bounded = env.filter(col("offset") >= 5L)
      .agg(count(lit(1)), min(col("offset")), max(col("offset")))
    assert(bounded.queryExecution.executedPlan.toString.contains("metadata-agg"))
    assert(bounded.collect().head.toSeq == Seq(35L, 5L, 39L))
    val boundedTs = env.filter(col("offset") >= 5L)
      .agg(min(col("ts")).as("mn"))
    assert(!boundedTs.queryExecution.executedPlan.toString.contains("metadata-agg"),
      "cut range must fall back to the frame scan for ts extrema")
    assert(unix_millis(lit(boundedTs.collect().head.getTimestamp(0))) != null)
    // empty topic: count 0, extrema NULL
    Ripple.createTopic(root, "tpe", numBuckets = 1)
    val er = Ripple.read(spark, root, "tpe")
      .agg(count(lit(1)), min(col("offset")), max(col("ts"))).collect().head
    assert(er.getLong(0) == 0L && er.isNullAt(1) && er.isNullAt(2))
  }

  test("startingPosition=latest tails new records; minOffsetsPerTrigger holds small batches") {
    import spark.implicits._
    val root = tmp()
    Ripple.createTopic(root, "tail", numBuckets = 2)
    Ripple.write(samplePayloads(20), root, "tail", numBuckets = 2) // backlog
    def ids(t: String): Seq[Int] =
      spark.table(t).select("id").as[Int].collect().sorted.toSeq

    // latest: the 20-row backlog is invisible; appends after start arrive
    val q = spark.readStream.format("ripple").option("path", root)
      .option("topic", "tail").option("startingPosition", "latest")
      .load().writeStream.format("memory").queryName("tail_out")
      .option("checkpointLocation", tmp()).start()
    try {
      q.processAllAvailable()
      assert(ids("tail_out").isEmpty, "backlog must be invisible under latest")
      Ripple.write(samplePayloads(5).withColumn("id", col("id") + 100),
        root, "tail", numBuckets = 2)
      q.processAllAvailable()
      assert(ids("tail_out") == (100 until 105))
    } finally q.stop()
    // batch read of 'latest' is refused; bad value refused
    intercept[Exception] {
      spark.read.format("ripple").option("path", root).option("topic", "tail")
        .option("startingPosition", "latest").load().count()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("ripple").option("path", root).option("topic", "tail")
        .option("startingPosition", "middle").load().count()
    }

    // minOffsetsPerTrigger: a 3-row trickle is held (no batch) while the
    // delay clock runs; crossing the minimum releases it
    Ripple.createTopic(root, "mint", numBuckets = 1)
    val q2 = spark.readStream.format("ripple").option("path", root)
      .option("topic", "mint").option("minOffsetsPerTrigger", 10)
      .option("maxTriggerDelayMs", 600000)
      .load().writeStream.format("memory").queryName("mint_out")
      .option("checkpointLocation", tmp()).start()
    try {
      Ripple.write(samplePayloads(3).coalesce(1), root, "mint", numBuckets = 1)
      q2.processAllAvailable()
      assert(ids("mint_out").isEmpty, "3 < 10 must hold the trigger")
      Ripple.write(samplePayloads(9).withColumn("id", col("id") + 50)
        .coalesce(1), root, "mint", numBuckets = 1)
      q2.processAllAvailable()
      assert(ids("mint_out").size == 12, "12 >= 10 must release the batch")
    } finally q2.stop()
    // the delay expiring releases a below-minimum batch
    Ripple.createTopic(root, "mind", numBuckets = 1)
    Ripple.write(samplePayloads(2).coalesce(1), root, "mind", numBuckets = 1)
    val q3 = spark.readStream.format("ripple").option("path", root)
      .option("topic", "mind").option("minOffsetsPerTrigger", 10)
      .option("maxTriggerDelayMs", 1)
      .load().writeStream.format("memory").queryName("mind_out")
      .option("checkpointLocation", tmp()).start()
    try {
      Thread.sleep(50)
      q3.processAllAvailable()
      assert(ids("mind_out").size == 2, "expired delay must release 2 < 10")
    } finally q3.stop()
    // consumer TIME lag: unreadTs is the FIRST UNCONSUMED record's stamp
    val ldf = (0 until 10).map(i =>
        (i, s"L$i".getBytes("UTF-8"), new java.sql.Timestamp(1000L * i)))
      .toDF("id", "data", "ts").repartition(1).sortWithinPartitions("id")
    Ripple.createTopic(root, "tlag", numBuckets = 1)
    Ripple.write(ldf, root, "tlag", numBuckets = 1)
    graft.connector.ConsumerOffsets.commit(root, "tlag", "g",
      Map("b0000" -> 4L))
    val pos = Ripple.consumerStatus(root, "tlag")("g")("b0000")
    assert(pos.lag == 6L && pos.unreadTs.contains(4000L), pos.toString)
    assert(pos.timeLagMs(10000L).contains(6000L))
    // caught up: no unread stamp, no time lag
    graft.connector.ConsumerOffsets.commit(root, "tlag", "g",
      Map("b0000" -> 10L))
    val done = Ripple.consumerStatus(root, "tlag")("g")("b0000")
    assert(done.lag == 0L && done.unreadTs.isEmpty &&
      done.timeLagMs().isEmpty)

    // describeTopic: the one-call ops summary agrees with its parts
    val d = Ripple.describeTopic(root, "tlag")
    assert(d.rows == 10L && d.bytes > 0L)
    assert(d.buckets("b0000") ==
      Ripple.BucketState(0L, 10L, d.buckets("b0000").segments,
        d.buckets("b0000").bytes, Some(9000L), 10L))
    assert(d.consumers == Seq("g") && d.schema.isEmpty)
    graft.connector.TopicSchemas.register(
      graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf),
      "tlag", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    assert(Ripple.describeTopic(root, "tlag").schema.contains("struct<x:bigint>"))
    assert(Ripple.describeTopic(root, "tlag").schemaVersion.contains(1))
    assert(Ripple.topicSchemaVersions(root, "tlag").keySet == Set(1))

    // AvailableNow ignores the minimum: the drain completes
    Ripple.createTopic(root, "mina", numBuckets = 1)
    Ripple.write(samplePayloads(4).coalesce(1), root, "mina", numBuckets = 1)
    val q4 = spark.readStream.format("ripple").option("path", root)
      .option("topic", "mina").option("minOffsetsPerTrigger", 100)
      .option("maxTriggerDelayMs", 600000)
      .load().writeStream.format("memory").queryName("mina_out")
      .option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow()).start()
    try {
      assert(q4.awaitTermination(60000), "AvailableNow drain must finish")
      assert(ids("mina_out").size == 4, "drain must ignore the minimum")
    } finally q4.stop()
  }

  test("DESCRIBE topic <col> on a real table named 'topic' reaches Spark, not the topic command") {
    val root = tmp()
    Ripple.createTopic(root, "dsh", numBuckets = 1)
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master("local[4]")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.graft.root", root)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      s.sql("DROP TABLE IF EXISTS topic")
      s.sql("CREATE TABLE topic (value INT, other STRING) USING parquet")
      try {
        // the reserved-word collision: describing column `value` of the
        // table literally named `topic` must DELEGATE (no ripple topic
        // named 'value' exists), not fail "unknown topic"
        val cols = s.sql("DESCRIBE topic value").collect()
        assert(cols.exists(_.toString.contains("value")),
          s"expected Spark's column describe, got ${cols.mkString(";")}")
        // and the topic command still wins when the NAMED TOPIC exists,
        // table named 'topic' or not
        val d = s.sql("DESCRIBE TOPIC dsh").collect()
        assert(d.map(_.getAs[String]("bucket")).toSeq == Seq("b0000"))
      } finally s.sql("DROP TABLE IF EXISTS topic")
      // with no table named 'topic', the statement still intercepts
      // (an unknown topic reads as zero bucket rows, not a parse fallthrough)
      assert(s.sql("DESCRIBE TOPIC nosuch").collect().isEmpty)
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base)
    }
  }

  test("SQL admin writes: CREATE TOPIC / ALTER TOPIC SET merges / UNSET removes; unknown keys loud") {
    val root = tmp()
    val base = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master("local[4]")
      .withExtensions(new graft.GraftExtensions())
      .config("spark.graft.root", root)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      // CREATE TOPIC with and without options
      val c = s.sql("CREATE TOPIC sq1 (numBuckets = 3)").collect()
      assert(c.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("sq1", 3)))
      assert(Ripple.buckets(root, "sq1") == Seq("b0000", "b0001", "b0002"))
      assert(s.sql(s"CREATE TOPIC sq2 IN '$root'").collect()
        .head.getInt(1) == 4) // default buckets
      // ALTER ... SET merges over the persisted config
      s.sql("ALTER TOPIC sq1 SET (retentionMs = 86400000, compression = 'zstd')")
        .collect()
      assert(Ripple.topicConfig(root, "sq1").retentionMs.contains(86400000L))
      assert(Ripple.topicConfig(root, "sq1").compression.contains("zstd"))
      val merged = s.sql("ALTER TOPIC sq1 SET (autoCompactSegments = 5)")
        .collect().head.getString(1)
      assert(merged == "autoCompactSegments=5,compression=zstd,retentionMs=86400000",
        s"SET must merge, not replace: $merged")
      // UNSET removes a key, keeps the rest
      val un = s.sql("ALTER TOPIC sq1 UNSET (retentionMs)").collect().head.getString(1)
      assert(un == "autoCompactSegments=5,compression=zstd", un)
      // the persisted config now drives a zero-option writer (end-to-end)
      import s.implicits._
      val text = (i: Int) => (s"v$i " + ("abc " * 40)).getBytes("UTF-8")
      (0 until 60).map(i => (i, text(i))).toDF("id", "data")
        .write.format("ripple").option("path", root).option("topic", "sq1")
        .mode("append").save()
      val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
      val onDisk = log.buckets("sq1").flatMap(log.segments)
        .map { case (p, _, _) => log.fs.getFileStatus(p).getLen }.sum
      assert(onDisk * 2 < (0 until 60).map(text(_).length + 16L).sum,
        "SQL-set compression must apply to the sink")
      // loud refusals: unknown key, bad value, unknown codec
      val e1 = intercept[Exception] {
        s.sql("ALTER TOPIC sq1 SET (retentoinMs = 5)").collect() }
      assert(e1.getMessage.contains("unknown topic config key"), e1.getMessage)
      val e2 = intercept[Exception] {
        s.sql("ALTER TOPIC sq1 SET (retentionMs = 'soon')").collect() }
      assert(e2.getMessage.contains("integer"), e2.getMessage)
      val e3 = intercept[Exception] {
        s.sql("ALTER TOPIC sq1 SET (compression = 'brotli')").collect() }
      assert(e3.getMessage.contains("unknown compression codec"), e3.getMessage)
      // cleanupPolicy through SQL; bad values loud
      s.sql("ALTER TOPIC sq1 SET (cleanupPolicy = 'compact')").collect()
      assert(Ripple.topicConfig(root, "sq1").cleanupPolicy.contains("compact"))
      val e4 = intercept[Exception] {
        s.sql("ALTER TOPIC sq1 SET (cleanupPolicy = 'vacuum')").collect() }
      assert(e4.getMessage.contains("'delete' or 'compact'"), e4.getMessage)
      // compactionKeyHeap (the keyed-compaction task memory budget):
      // persists, renders, and is loud below the floor
      s.sql("ALTER TOPIC sq1 SET (compactionKeyHeap = 65536)").collect()
      assert(Ripple.topicConfig(root, "sq1").compactionKeyHeap.contains(65536))
      val e4b = intercept[Exception] {
        s.sql("ALTER TOPIC sq1 SET (compactionKeyHeap = 10)").collect() }
      assert(e4b.getMessage.contains(">= 1024"), e4b.getMessage)
      // UNSET of the last keys deletes the document
      s.sql("ALTER TOPIC sq1 UNSET (autoCompactSegments, compression, " +
        "cleanupPolicy, compactionKeyHeap)").collect()
      assert(Ripple.topicConfig(root, "sq1").isEmpty)
      // DROP TOPIC: guarded by default, FORCE overrides, loud on unknown
      graft.connector.ConsumerOffsets.commit(root, "sq2", "c1", Map("b0000" -> 0L))
      val e5 = intercept[Exception] { s.sql("DROP TOPIC sq2").collect() }
      assert(e5.getMessage.contains("consumer"), e5.getMessage)
      assert(s.sql("DROP TOPIC sq2 FORCE").collect().head.getBoolean(1))
      assert(!Ripple.topics(root).contains("sq2"))
      val e6 = intercept[Exception] { s.sql("DROP TOPIC sq2").collect() }
      assert(e6.getMessage.contains("does not exist"), e6.getMessage)
      // plain Spark DDL still delegates (no shadowing of ALTER TABLE)
      s.sql("DROP TABLE IF EXISTS t_alter")
      s.sql("CREATE TABLE t_alter (a INT) USING parquet")
      s.sql("ALTER TABLE t_alter ADD COLUMNS (b STRING)")
      assert(s.table("t_alter").schema.fieldNames.toSeq == Seq("a", "b"))
      s.sql("DROP TABLE t_alter")
    } finally {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base); SparkSession.setActiveSession(base)
    }
  }

  test("expireConsumers skips a consumer that commits between the staleness check and the delete") {
    val root = tmp()
    Ripple.createTopic(root, "exr", numBuckets = 1)
    Ripple.write(samplePayloads(4).coalesce(1), root, "exr", numBuckets = 1)
    graft.connector.ConsumerOffsets.commit(root, "exr", "waker", Map("b0000" -> 1L))
    graft.connector.ConsumerOffsets.commit(root, "exr", "gone", Map("b0000" -> 1L))
    // both idle past the threshold relative to a far-future "now"
    val now = System.currentTimeMillis() + 10L * 24 * 3600 * 1000
    val woke = scala.collection.mutable.Set.empty[String]
    Ripple.expireRecheckSeam = (_, id) =>
      if (id == "waker" && !woke.contains(id)) {
        woke += id
        // the consumer wakes up and commits INSIDE the check-then-act
        // window — with a fresh mtime (real wall clock is fine: the stamp
        // only needs to be young relative to `now - olderThan`)
        graft.connector.ConsumerOffsets.commit(root, "exr", "waker",
          Map("b0000" -> 2L))
        // make the new stamp observably fresh vs the fake `now`
        val d = new org.apache.hadoop.fs.Path(
          s"$root/exr/.consumers/waker/cursor.json")
        val fs = graft.log.LogFs.get(d, graft.log.LogFs.activeHadoopConf)
        fs.setTimes(d, now - 1000L, -1)
      }
    try {
      val expired = Ripple.expireConsumers(root, "exr",
        olderThanMs = 24L * 3600 * 1000, nowMs = now)
      assert(expired == Seq("gone"),
        s"only the truly-idle consumer expires, got $expired")
      assert(Ripple.consumerOffsets(root, "exr").keySet == Set("waker"),
        "the just-committed consumer must survive")
      assert(Ripple.consumerOffsets(root, "exr")("waker")("b0000") == 2L)
    } finally Ripple.expireRecheckSeam = (_, _) => ()
  }

  test("snapshot pin save is atomic: a crashed save's temp file never breaks list(), torn real pins stay loud") {
    val root = tmp()
    Ripple.createTopic(root, "pat", numBuckets = 1)
    Ripple.write(samplePayloads(5).coalesce(1), root, "pat", numBuckets = 1)
    Ripple.pinSnapshot(root, "pat", "good")
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val snapDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(log.root, "pat"), ".snapshots")
    // a crashed save orphans a dot-temp: list() must skip it (it is a
    // staging artifact, never a pin — pin names cannot start with '.')
    val orphan = new org.apache.hadoop.fs.Path(snapDir, ".tmp-pin-crashed")
    val out = log.fs.create(orphan, true); out.close() // zero-length temp
    assert(Ripple.snapshots(root, "pat").map(_.name) == Seq("good"))
    // but a torn REAL pin document (non-dot name) is still loud
    val torn = new org.apache.hadoop.fs.Path(snapDir, "torn-pin")
    val out2 = log.fs.create(torn, true); out2.close()
    val e = intercept[IllegalStateException] { Ripple.snapshots(root, "pat") }
    assert(e.getMessage.contains("torn-pin"), e.getMessage)
    log.fs.delete(torn, false)
    // duplicate pin name still refused (create-exclusivity preserved
    // through the atomic-publish path)
    val dup = intercept[IllegalStateException] {
      Ripple.pinSnapshot(root, "pat", "good")
    }
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
  }

  test("topic config: out-of-int-range and non-numeric values take the loud malformed-document path") {
    val root = tmp()
    Ripple.createTopic(root, "tcr", numBuckets = 1)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(log.root, "tcr"), ".config")
    def put(json: String): Unit = {
      val o = log.fs.create(p, true)
      o.write(json.getBytes("UTF-8")); o.close()
    }
    // 2^32 + 2 narrows to 2 via toInt — a valid-looking policy; must be loud
    put(s"""{"v":1,"autoCompactSegments":${(1L << 32) + 2}}""")
    val e1 = intercept[IllegalStateException] {
      graft.connector.TopicConfig.read(log, "tcr")
    }
    assert(e1.getMessage.contains("out of int range"), e1.getMessage)
    // non-numeric: asLong would coerce to 0 and misreport as "must be positive"
    put("""{"v":1,"retentionMs":"forever"}""")
    val e2 = intercept[IllegalStateException] {
      graft.connector.TopicConfig.read(log, "tcr")
    }
    assert(e2.getMessage.contains("not an integer"), e2.getMessage)
    // a valid document still round-trips
    put("""{"v":1,"retentionMs":60000}""")
    assert(graft.connector.TopicConfig.read(log, "tcr").retentionMs.contains(60000L))
  }

  test("segment compression: config-driven, mixed segments read seamlessly, compaction stays byte-concat") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    def textPayloads(n: Int, idOffset: Int = 0): DataFrame = {
      import spark.implicits._
      (idOffset until idOffset + n).map(i =>
        (i, (s"document-$i: " + ("lorem ipsum dolor sit amet " * 20)).getBytes("UTF-8")))
        .toDF("id", "data")
    }
    def bucketBytes(topic: String): Long = {
      val tb = graft.model.TopicBucket(topic, "b0000")
      log.segments(tb).map { case (p, _, _) => log.fs.getFileStatus(p).getLen }.sum
    }
    // twin topics, same rows: compressed on-disk footprint must drop hard
    Ripple.createTopic(root, "craw", numBuckets = 1)
    Ripple.write(textPayloads(200), root, "craw", numBuckets = 1)
    Ripple.createTopic(root, "czst", numBuckets = 1)
    Ripple.setTopicConfig(root, "czst",
      graft.connector.TopicConfig(compression = Some("zstd")))
    Ripple.write(textPayloads(200), root, "czst", numBuckets = 1)
    val (raw, zst) = (bucketBytes("craw"), bucketBytes("czst"))
    assert(zst * 3 < raw, s"zstd must shrink repetitive text >=3x: $zst vs $raw")
    // content identical through the connector
    def content(topic: String) = Ripple.read(spark, root, topic)
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(content("czst") == content("craw"))
    // mixed segments: a raw-config writer appends to the same topic
    // (explicit option override: compression 'none' beats the topic config)
    textPayloads(50, idOffset = 200).repartition(1)
      .write.format("ripple").option("path", root).option("topic", "czst")
      .option("compression", "none").mode("append").save()
    assert(Ripple.read(spark, root, "czst").count() == 250)
    // compaction byte-concats the MIXED segments; reads stay identical
    Ripple.write(textPayloads(30, idOffset = 250), root, "czst", numBuckets = 1)
    val before = content("czst")
    val tb = graft.model.TopicBucket("czst", "b0000")
    assert(log.segments(tb).size > 1)
    assert(Ripple.compactSegments(spark, root, "czst", 128L << 20,
      Long.MaxValue) > 0)
    assert(log.segments(tb).size == 1, "one merged segment")
    assert(content("czst") == before, "compaction over mixed frames is invisible")
    // timestamp seek + payload-skip projection over compressed segments
    val metaOnly = Ripple.read(spark, root, "czst").select("offset", "ts")
    assert(metaOnly.count() == 280)
    // deflate and lz4 also round-trip through the sink option
    for (c <- Seq("deflate", "lz4")) {
      Ripple.createTopic(root, s"c$c", numBuckets = 1)
      textPayloads(40).repartition(1)
        .write.format("ripple").option("path", root).option("topic", s"c$c")
        .option("compression", c).mode("append").save()
      assert(content(s"c$c").map(r => (r._2, r._3)) ==
        content("craw").filter(_._2 < 40).map(r => (r._2, r._3)), c)
      // raw twin of the SAME 40 rows would be raw*(40/200); demand >=2x
      assert(bucketBytes(s"c$c") * 2 < raw * 40 / 200, c)
    }
    // unknown codec is loud at option parse
    val e = intercept[Exception] {
      textPayloads(1).write.format("ripple").option("path", root)
        .option("topic", "czst").option("compression", "brotli")
        .mode("append").save()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(e2 => Option(e2.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("unknown compression codec")),
      chain(e).mkString(" | "))
  }

  test("cleanupPolicy=compact: the sink keyed-compacts at the threshold; dirty-ratio defers to byte-concat") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    Ripple.createTopic(root, "cp", numBuckets = 1)
    Ripple.setTopicConfig(root, "cp", graft.connector.TopicConfig(
      cleanupPolicy = Some("compact"), autoCompactSegments = Some(3)))
    import spark.implicits._
    // pad makes the sparse prefix HEAVY so the dirty-ratio arm is reachable
    def putBatch(pairs: Seq[(Int, String)], pad: Int = 600): Unit =
      Ripple.write(pairs.map { case (k, v) => (k, (v + "#" * pad).getBytes("UTF-8")) }
        .toDF("id", "data").repartition(1), root, "cp", numBuckets = 1)
    val tb = graft.model.TopicBucket("cp", "b0000")
    putBatch(Seq(1 -> "a1", 2 -> "b1", 7 -> "g1", 8 -> "h1"))
    putBatch(Seq(1 -> "a2", 3 -> "c1", 9 -> "i1"))
    assert(log.segments(tb).size == 2, "below threshold: no compaction yet")
    putBatch(Seq(2 -> "b2")) // third segment crosses the threshold
    val segs = log.segments(tb)
    assert(segs.size == 1 && graft.log.SegmentCodec.isSparse(segs.head._1.getName),
      s"sink must keyed-compact at the threshold, got ${segs.map(_._1.getName)}")
    def latest() = Ripple.read(spark, root, "cp")
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getString(2).takeWhile(_ != '#'))).sortBy(_._1).toSeq
    assert(latest() == Seq((2L, 7, "g1"), (3L, 8, "h1"), (4L, 1, "a2"),
      (5L, 3, "c1"), (6L, 9, "i1"), (7L, 2, "b2")),
      s"latest per key at original offsets, got ${latest()}")
    // dirty-ratio amortization: three single-ROW dense epochs against the
    // six-key cleaned prefix cross the count threshold but not the 0.5
    // dirty ratio (dense retained rows < sparse retained rows — row
    // counts, codec-independent) — the sink must BYTE-CONCAT the dense
    // suffix (segment count bounded), never rewrite the whole bucket per
    // epoch
    putBatch(Seq(4 -> "d1"), pad = 1)
    putBatch(Seq(5 -> "e1"), pad = 1)
    putBatch(Seq(6 -> "f1"), pad = 1)
    val after = log.segments(tb)
    assert(after.exists(s => graft.log.SegmentCodec.isSparse(s._1.getName)),
      "the sparse prefix survives a deferred pass")
    assert(after.size == 2,
      s"dense suffix byte-concats under the ratio guard, got " +
        after.map(_._1.getName).mkString(", "))
    assert(Ripple.read(spark, root, "cp").count() == 9,
      "deferred pass reclaims nothing (all nine keys distinct)")
    // enough new dirt: the ratio crosses and the whole bucket keyed-compacts
    putBatch(Seq(1 -> "a3", 2 -> "b3"))
    putBatch(Seq(3 -> "c2", 4 -> "d2"))
    val end = log.segments(tb)
    assert(end.size == 1 && graft.log.SegmentCodec.isSparse(end.head._1.getName),
      s"ratio crossed: full keyed compaction, got ${end.map(_._1.getName)}")
    assert(latest().map(t => (t._2, t._3)).toSet ==
      Set(1 -> "a3", 2 -> "b3", 3 -> "c2", 4 -> "d2", 5 -> "e1", 6 -> "f1",
        7 -> "g1", 8 -> "h1", 9 -> "i1"),
      s"latest per key after the second pass, got ${latest()}")
  }

  test("keyed compaction through the connector: exact reads, COUNT(*)/LIMIT stay correct, pins clamp, codec re-encodes") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    Ripple.createTopic(root, "kc", numBuckets = 1)
    // compression on the topic: keyed compaction re-encodes with it
    Ripple.setTopicConfig(root, "kc",
      graft.connector.TopicConfig(compression = Some("zstd")))
    import spark.implicits._
    def putBatch(pairs: Seq[(Int, String)]): Unit =
      Ripple.write(pairs.map { case (k, v) =>
        (k, (v + ": " + ("padding " * 30)).getBytes("UTF-8")) }
        .toDF("id", "data").repartition(1), root, "kc", numBuckets = 1)
    putBatch(Seq(1 -> "a1", 2 -> "b1", 3 -> "c1")) // offsets 0-2
    putBatch(Seq(1 -> "a2", 2 -> "b2"))            // offsets 3-4
    putBatch(Seq(1 -> "a3"))                       // offset 5
    // pin a snapshot NOW (captures [0, 6)) — a later keyed compaction
    // must clamp: nothing below the pin's ceiling may rewrite
    Ripple.pinSnapshot(root, "kc", "corpus")
    putBatch(Seq(2 -> "b3", 4 -> "d1"))            // offsets 6-7
    putBatch(Seq(2 -> "b4"))                       // offset 8
    val tb = graft.model.TopicBucket("kc", "b0000")
    val preNames = log.segments(tb).take(3).map(_._1.getName)
    assert(Ripple.compactKeyed(root, "kc") == 2,
      "only the two post-pin segments compact")
    assert(log.segments(tb).take(3).map(_._1.getName) == preNames,
      "pinned range byte-stable")
    // pinned snapshot read still exact
    val pinned = Ripple.readSnapshot(spark, root, "kc",
      Ripple.snapshots(root, "kc").head.token)
    assert(pinned.count() == 6)
    // drop the pin: full compaction collapses everything to latest-per-key
    Ripple.dropSnapshot(root, "kc", "corpus")
    assert(Ripple.compactKeyed(root, "kc") > 0)
    val rows = Ripple.read(spark, root, "kc")
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getString(2).split(":").head)).sortBy(_._1).toSeq
    assert(rows == Seq((2L, 3, "c1"), (5L, 1, "a3"), (7L, 4, "d1"), (8L, 2, "b4")),
      s"latest per key at original offsets, got $rows")
    // DESCRIBE reports RETAINED rows for the compacted bucket, not the
    // offset span (a compacted changelog must not over-report its size)
    assert(Ripple.describeTopic(root, "kc").buckets("b0000").rows == 4L)
    // COUNT(*) is exact over the sparse topic (the metadata pushdown
    // refuses and the real scan runs — header walk, payloads pruned)
    val cnt = Ripple.read(spark, root, "kc").agg(count(lit(1)))
    assert(cnt.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "metadata agg pushdown must refuse on a sparse topic")
    assert(cnt.collect().head.getLong(0) == 4L)
    // LIMIT never under-delivers over sparse spans
    assert(Ripple.read(spark, root, "kc").limit(3).collect().length == 3)
    assert(Ripple.read(spark, root, "kc").limit(10).collect().length == 4)
    // offset-range replay over the sparse map stays exact
    assert(Ripple.readRange(spark, root, "kc", from = 6L, until = Long.MaxValue)
      .select("id").as[Int].collect().sorted.toSeq == Seq(2, 4))
    // the sparse product is zstd-framed (topic codec applied on rewrite):
    // its bytes are far below the raw payload sum of retained rows
    val seg = log.segments(tb).last
    assert(graft.log.SegmentCodec.isSparse(seg._1.getName))
    val rawRetained = 4L * ("xx: " + ("padding " * 30)).getBytes.length
    assert(log.fs.getFileStatus(seg._1).getLen * 3 < rawRetained,
      s"re-encode must compress: ${log.fs.getFileStatus(seg._1).getLen} vs $rawRetained")
    // distributed rewrite path: same result via the Spark-job runner
    Ripple.createTopic(root, "kd", numBuckets = 2)
    Ripple.write((0 until 40).map(i => (i % 8, s"v$i".getBytes("UTF-8")))
      .toDF("id", "data"), root, "kd", numBuckets = 2)
    val beforeKd = Ripple.read(spark, root, "kd")
      .select("bucket", "offset", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // per (bucket, id): the max offset survives
    val expectKd = beforeKd.groupBy(t => (t._1, t._3)).values
      .map(_.maxBy(_._2)).toSet
    assert(Ripple.compactKeyed(spark, root, "kd", distributeMinBytes = 0L) > 0)
    assert(Ripple.read(spark, root, "kd")
      .select("bucket", "offset", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet == expectKd)
  }

  test("streaming over a key-compacted topic: offset-capped triggers drain exactly the retained records") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    Ripple.createTopic(root, "ksr", numBuckets = 1)
    import spark.implicits._
    // key-update stream: 30 writes over 10 keys -> latest 10 survive
    (0 until 30).grouped(10).foreach { g =>
      Ripple.write(g.map(i => (i % 10, s"v$i".getBytes("UTF-8")))
        .toDF("id", "data").repartition(1), root, "ksr", numBuckets = 1)
    }
    assert(Ripple.compactKeyed(root, "ksr") == 3)
    // the stream plans offset ranges over the SPARSE map (admission caps
    // OFFSETS, Kafka-style; gaps deliver no rows but still advance) and
    // must drain exactly the retained records, never stall on a gap
    val q = spark.readStream.format("ripple").option("path", root)
      .option("topic", "ksr").option("maxOffsetsPerTrigger", 7)
      .load().writeStream.format("memory").queryName("ksr_out")
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000), "AvailableNow drain must finish")
    finally q.stop()
    val got = spark.table("ksr_out")
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val want = (20 until 30).map(i => (i.toLong, i % 10, s"v$i")).toSet
    assert(got == want, s"retained records at original offsets, got $got")
  }

  test("streaming over a compacted topic with tombstones: deletes arrive as null-data rows") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    Ripple.createTopic(root, "tsr", numBuckets = 1)
    Ripple.setTopicConfig(root, "tsr", graft.connector.TopicConfig(
      tombstoneRetentionMs = Some(30L * 24 * 3600 * 1000)))
    import spark.implicits._
    def put(rows: Seq[(Int, Option[String])]): Unit =
      Ripple.write(rows.map { case (k, v) =>
        (k, v.map(_.getBytes("UTF-8")).orNull) }
        .toDF("id", "data").repartition(1), root, "tsr", numBuckets = 1)
    put((0 until 10).map(i => (i, Some(s"v$i"))))          // 0-9
    put(Seq((3, None), (7, None)))                          // 10-11: deletes
    put(Seq((3, Some("v3b"))))                              // 12: recreate 3
    assert(Ripple.compactKeyed(root, "tsr") > 0)
    // a downstream changelog consumer must OBSERVE key 7's delete (the
    // young tombstone survived compaction) and key 3's recreate
    val q = spark.readStream.format("ripple").option("path", root)
      .option("topic", "tsr").option("maxOffsetsPerTrigger", 5)
      .load().writeStream.format("memory").queryName("tsr_out")
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(60000), "AvailableNow drain must finish")
    finally q.stop()
    val got = spark.table("tsr_out")
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet
    val want: Set[(Long, Int, String)] =
      (0 until 10).filter(i => i != 3 && i != 7)
        .map(i => (i.toLong, i, s"v$i")).toSet +
        ((11L, 7, null: String)) + ((12L, 3, "v3b"))
    assert(got == want, s"tombstone must stream as a null-data row, got $got")
  }

  test("currentVersion is read-only on a breach (out-of-band pointer rewrite); evolve repairs the history") {
    import org.apache.spark.sql.types._
    val root = tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val v1 = StructType(Seq(StructField("a", LongType)))
    Ripple.createTopic(root, "bre", 1, v1)
    // out-of-band pointer rewrite: the pointer now matches NO recorded version
    val foreign = StructType(Seq(StructField("z", StringType)))
    log.writeFileAtomic(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(log.root, "bre"), ".schema"),
      foreign.json.getBytes("UTF-8"))
    def versionFiles(): Seq[String] =
      log.fs.listStatus(new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(log.root, "bre"), ".schema-versions"))
        .map(_.getPath.getName).toSeq.sorted
    val before = versionFiles()
    // the READ path reports the pointer as the next (unrecorded) version
    // and writes NOTHING — it must work on read-only credentials
    assert(graft.connector.TopicSchemas.currentVersion(log, "bre").contains(2))
    assert(versionFiles() == before, "introspection must not write")
    // the virtual version lifts with the pointer (a snapshot cut in the
    // breach window pins this number)
    assert(graft.connector.TopicSchemas.schemaAt(log, "bre", 2) == foreign)
    // the WRITE path repairs: evolve seeds the unmatched pointer at the
    // virtual number, then allocates its own evolution past it
    val v3 = StructType(foreign.fields :+ StructField("w", StringType, nullable = true))
    graft.connector.TopicSchemas.evolve(log, "bre", v3)
    assert(graft.connector.TopicSchemas.schemaAt(log, "bre", 2) == foreign,
      "the breach-window shape must stay recorded at its virtual number")
    assert(graft.connector.TopicSchemas.currentVersion(log, "bre").contains(3))
    assert(graft.connector.TopicSchemas.schemaAt(log, "bre", 3) == v3)
  }

  test("metadata agg stays honest when keyed compaction lands between planning and execution") {
    val root = tmp()
    Ripple.createTopic(root, "mrace", numBuckets = 1)
    import spark.implicits._
    // nine records, three keys — latest per key at offsets 6, 7, 8
    Ripple.write((0 until 9).map(i => (i % 3, s"v$i".getBytes("UTF-8")))
      .toDF("id", "data").repartition(1), root, "mrace", numBuckets = 1)
    val agg = Ripple.read(spark, root, "mrace")
      .agg(count(lit(1)).as("c"), min("offset").as("lo"), max("offset").as("hi"))
    // force pushdown NOW (V2ScanRelationPushDown runs in optimization) —
    // the topic is dense, so the metadata pushdown is accepted; input
    // partitions are not yet planned (BatchScanExec plans them lazily at
    // execution, and stringifying the plan would force them early)
    val scans = agg.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.connector.RippleMetaAggScan]),
      s"pushdown must be accepted on the dense topic, scans were: $scans")
    // the race: a keyed compaction lands before the action executes
    assert(Ripple.compactKeyed(root, "mrace") > 0)
    val tb = graft.model.TopicBucket("mrace", "b0000")
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    assert(log.segments(tb).forall(s =>
      graft.log.SegmentCodec.isSparse(s._1.getName)))
    // execution must RE-DETECT sparseness: COUNT(*) is the retained rows
    // (3, not the 9-row dense span) and MIN(offset) is the first RETAINED
    // offset (6 — offsets 0-5 were reclaimed and must not be reported)
    val row = agg.collect().head
    assert(row.getLong(0) == 3L,
      s"COUNT(*) must not over-count a compacted span, got ${row.getLong(0)}")
    assert(row.getLong(1) == 6L,
      s"MIN(offset) must be the first retained offset, got ${row.getLong(1)}")
    assert(row.getLong(2) == 8L)
  }

  test("raced metadata COUNT over a fully-covered sparse segment answers from the commit record — zero data-file opens") {
    // the race fix must not cost O(retained rows) of driver I/O on a
    // large compacted topic: a window covering the WHOLE product takes
    // the retained count from its commit record, no header walk
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingReadFs].getName)
    val root = "cntfs:" + tmp()
    Ripple.createTopic(root, "mname", numBuckets = 1)
    import spark.implicits._
    Ripple.write((0 until 9).map(i => (i % 3, s"v$i".getBytes("UTF-8")))
      .toDF("id", "data").repartition(1), root, "mname", numBuckets = 1)
    val agg = Ripple.read(spark, root, "mname").agg(count(lit(1)).as("c"))
    val scans = agg.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.connector.RippleMetaAggScan]),
      s"pushdown must be accepted on the dense topic, scans were: $scans")
    assert(Ripple.compactKeyed(root, "mname") > 0)
    CountingReadFs.dataOpens.set(0L)
    assert(agg.collect().head.getLong(0) == 3L)
    assert(CountingReadFs.dataOpens.get == 0L,
      "fully-covered sparse COUNT must be answered from metadata, " +
        s"got ${CountingReadFs.dataOpens.get} data-file opens")
  }

  test("tombstones through the sink: null data deletes a key; one pass keeps the delete visible, retention drops it") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    Ripple.createTopic(root, "tmb", numBuckets = 1)
    import spark.implicits._
    val now = System.currentTimeMillis()
    def put(rows: Seq[(Int, Option[String], Long)]): Unit =
      Ripple.write(rows.map { case (k, v, ts) =>
        (k, v.map(_.getBytes("UTF-8")).orNull, new java.sql.Timestamp(ts)) }
        .toDF("id", "data", "ts").repartition(1), root, "tmb", numBuckets = 1)
    put(Seq((1, Some("a1"), now), (2, Some("b1"), now)))        // 0-1
    // delete key 2 with a ts 10 days old: producer event time must NOT
    // age the delete — clean-time aging only counts from when the
    // tombstone first survives a compaction
    put(Seq((2, None, now - 10L * 24 * 3600 * 1000)))           // 2
    put(Seq((3, Some("c1"), now)))                              // 3
    // pre-compaction read: the delete is a row with data IS NULL
    val pre = Ripple.read(spark, root, "tmb")
      .select(col("offset"), col("id"), col("data"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.isNullAt(2))).sortBy(_._1)
    assert(pre.toSeq == Seq((0L, 1, false), (1L, 2, false), (2L, 2, true),
      (3L, 3, false)))
    // pass 1 under a SHORT horizon against the 10-day-old record ts: the
    // tombstone is latest-per-key in a raw segment and must SURVIVE its
    // first pass (a lagging reader still observes the delete) — an engine
    // trusting the producer stamp would drop it right here
    Ripple.setTopicConfig(root, "tmb", graft.connector.TopicConfig(
      tombstoneRetentionMs = Some(24L * 3600 * 1000)))
    assert(Ripple.compactKeyed(root, "tmb") > 0)
    val mid = Ripple.read(spark, root, "tmb")
      .select(col("offset"), col("id"), col("data"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.isNullAt(2))).sortBy(_._1)
    assert(mid.toSeq == Seq((0L, 1, false), (2L, 2, true), (3L, 3, false)),
      s"young tombstone must survive pass 1 at its original offset, got ${mid.toSeq}")
    // a LIFTED read mid-state: the tombstone row lifts with NULL payload
    // columns (PERMISSIVE shape — downstream SQL sees the delete as a
    // null record, never a parse error)
    val liftSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("f",
        org.apache.spark.sql.types.StringType)))
    val lifted = Ripple.lift(Ripple.read(spark, root, "tmb"), liftSchema)
      .select(col("_offset"), col("f")).collect()
      .map(r => (r.getLong(0), r.isNullAt(1))).sortBy(_._1)
    assert(lifted.map(_._1).toSeq == Seq(0L, 2L, 3L),
      s"lifted read over the compacted+tombstone state, got ${lifted.toSeq}")
    assert(lifted(1)._2, "the tombstone row must lift with null payload columns")
    // new dirt + two days of simulated clean time (the pass-1 product's
    // mtime is backdated past the 24 h horizon): the aged tombstone
    // drops with its key
    put(Seq((4, Some("d1"), now)))                              // 4
    val tlog = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    tlog.buckets("tmb").foreach { tb =>
      tlog.segments(tb).collect {
        case (p, _, _) if graft.log.SegmentCodec.isSparse(p.getName) =>
          tlog.fs.setTimes(p, now - 2L * 24 * 3600 * 1000, -1)
      }
    }
    assert(Ripple.compactKeyed(root, "tmb") > 0)
    val end = Ripple.read(spark, root, "tmb")
      .select(col("offset"), col("id"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(end.toSeq == Seq((0L, 1, "a1"), (3L, 3, "c1"), (4L, 4, "d1")),
      s"aged tombstone drops key 2 entirely, got ${end.toSeq}")
    // re-created key: a delete followed by a new value keeps the value
    put(Seq((1, None, now), (1, Some("a2"), now)))              // 5-6
    put(Seq((5, Some("e1"), now)))                              // 7
    assert(Ripple.compactKeyed(root, "tmb") > 0)
    val re = Ripple.read(spark, root, "tmb")
      .filter(col("id") === 1)
      .select(col("offset"), col("data").cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(re == Seq((6L, "a2")), s"delete-then-recreate keeps the value, got $re")
  }

  test("readTable: latest-per-key view == read after full compaction+aging; deleted keys absent while plain read shows the delete") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    Ripple.createTopic(root, "ktv", numBuckets = 2)
    import spark.implicits._
    def put(rows: Seq[(Int, Option[String])]): Unit =
      Ripple.write(rows.map { case (k, v) =>
        (k, v.map(_.getBytes("UTF-8")).orNull) }
        .toDF("id", "data").repartition(1), root, "ktv", numBuckets = 2)
    put((0 until 10).map(i => (i, Some(s"v$i"))))  // first generation
    put(Seq((3, None), (7, None)))                 // delete 3 and 7
    put(Seq((3, Some("v3b"))))                     // recreate 3
    put(Seq((1, Some("v1b"))))                     // update 1
    def tableMap(df: org.apache.spark.sql.DataFrame): Map[Int, String] =
      df.select(col("id"), col("data").cast("string"))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val want = (0 until 10).filter(_ != 7).map {
      case 1 => 1 -> "v1b"
      case 3 => 3 -> "v3b"
      case i => i -> s"v$i"
    }.toMap
    assert(tableMap(Ripple.readTable(spark, root, "ktv")) == want)
    // tombstone-visibility arm: the view hides key 7 entirely while the
    // plain envelope read still surfaces both deletes
    assert(Ripple.read(spark, root, "ktv").filter(col("data").isNull)
      .select("id").as[Int].collect().toSet == Set(3, 7))
    // SQL spellings (explicit parser — no extensions needed): envelope
    // and table view
    val parser = new graft.GraftSqlParser(spark.sessionState.sqlParser)
    def sql(stmt: String) = org.apache.spark.sql.graft.bridge.ofRows(
      spark, parser.parsePlan(stmt))
    assert(sql(s"READ TOPIC ktv IN '$root'").count() ==
      Ripple.read(spark, root, "ktv").count())
    assert(tableMap(sql(s"READ TOPIC ktv AS TABLE IN '$root'")) == want)
    // equivalence: a FULL compaction with aged-out tombstones
    // materializes exactly the view — readTable(pre) == read(post) ==
    // readTable(post)
    Ripple.setTopicConfig(root, "ktv", graft.connector.TopicConfig(
      tombstoneRetentionMs = Some(24L * 3600 * 1000)))
    assert(Ripple.compactKeyed(root, "ktv") > 0)
    // fresh dirt in both buckets (same values — the keyed table is
    // unchanged) + two days of simulated clean time
    put(want.toSeq.sortBy(_._1).map { case (k, v) => (k, Some(v)) })
    val tlog = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    tlog.buckets("ktv").foreach { tb =>
      tlog.segments(tb).collect {
        case (p, _, _) if graft.log.SegmentCodec.isSparse(p.getName) =>
          tlog.fs.setTimes(p,
            System.currentTimeMillis() - 2L * 24 * 3600 * 1000, -1)
      }
    }
    assert(Ripple.compactKeyed(root, "ktv") > 0)
    val plainAfter = Ripple.read(spark, root, "ktv")
    assert(plainAfter.filter(col("data").isNull).count() == 0,
      "aged tombstones must be gone from the compacted log")
    assert(tableMap(plainAfter) == want,
      "the fully-compacted log IS the table the view computed")
    assert(tableMap(Ripple.readTable(spark, root, "ktv")) == want,
      "the view is idempotent over the compacted log")
  }

  test("keyed-compaction spill scratch resolves to Spark's provisioned local dir inside a Spark JVM") {
    // on a real cluster spark.local.dir is the provisioned NVMe scratch
    // while /tmp is often a small root volume — the ~12 GB of sorted
    // runs a 10^9-key bucket spills must land on the former
    val resolved = org.apache.spark.sql.graft.bridge.sparkLocalDir()
    assert(resolved.isDefined,
      "a live SparkEnv must resolve a spark local dir for spill runs")
    val f = graft.log.SegmentCodec.spillFile(".seam")
    try assert(f.getParentFile.getCanonicalFile == resolved.get.getCanonicalFile,
      s"spill file in ${f.getParent}, expected ${resolved.get}")
    finally { f.delete(); () }
  }

  test("pin-clamped keyed compaction never ages a delete out over an uncompacted prefix (no key resurrection)") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    Ripple.createTopic(root, "pcl", numBuckets = 1)
    import spark.implicits._
    def put(rows: Seq[(Int, Option[String])]): Unit =
      Ripple.write(rows.map { case (k, v) =>
        (k, v.map(_.getBytes("UTF-8")).orNull) }
        .toDF("id", "data").repartition(1), root, "pcl", numBuckets = 1)
    val now = System.currentTimeMillis()
    val tlog = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    def backdateSparse(): Unit = tlog.buckets("pcl").foreach { tb =>
      tlog.segments(tb).collect {
        case (p, _, _) if graft.log.SegmentCodec.isSparse(p.getName) =>
          tlog.fs.setTimes(p, now - 2L * 24 * 3600 * 1000, -1)
      }
    }
    def latestFor(id: Int): Option[(Long, Boolean)] =
      Ripple.read(spark, root, "pcl").filter(col("id") === id)
        .select(col("offset"), col("data")).collect()
        .map(r => (r.getLong(0), r.isNullAt(1))).sortBy(_._1).lastOption
    Ripple.setTopicConfig(root, "pcl", graft.connector.TopicConfig(
      tombstoneRetentionMs = Some(24L * 3600 * 1000)))
    put(Seq((1, Some("old")), (9, Some("x"))))  // 0-1: pre-pin generation
    Ripple.pinSnapshot(root, "pcl", "p1")       // ceiling = 2
    put(Seq((1, None)))                         // 2: delete key 1
    put(Seq((5, Some("y"))))                    // 3
    // pass 1 (pin live): only the suffix [2,..) compacts; the delete is
    // in a raw member and survives
    assert(Ripple.compactKeyed(root, "pcl") > 0)
    assert(latestFor(1).exists(_._2), "delete visible after clamped pass 1")
    // two days of simulated clean time + new dirt, pin STILL live: a
    // clamped pass must NOT age the delete out — key 1's pre-pin value
    // at offset 0 survives below the clamp, so dropping the tombstone
    // here would resurrect it once the pin releases
    put(Seq((6, Some("z"))))                    // 4
    backdateSparse()
    assert(Ripple.compactKeyed(root, "pcl") > 0)
    assert(latestFor(1).exists(_._2),
      s"clamped pass must retain the delete, got ${latestFor(1)}")
    // release the pin, age again, compact the WHOLE bucket: the delete
    // finally drops TOGETHER with the superseded pre-pin value
    Ripple.dropSnapshot(root, "pcl", "p1")
    put(Seq((7, Some("w"))))                    // 5
    backdateSparse()
    assert(Ripple.compactKeyed(root, "pcl") > 0)
    assert(latestFor(1).isEmpty,
      s"key 1 must be fully deleted, not resurrected: ${latestFor(1)}")
    val survivors = Ripple.read(spark, root, "pcl")
      .select(col("id")).collect().map(_.getInt(0)).toSet
    assert(survivors == Set(9, 5, 6, 7), s"got $survivors")
  }

  test("SQL lifecycle verbs: TRUNCATE / COMPACT [KEYED] / RESET+DROP CONSUMER / PIN+DROP SNAPSHOT") {
    val root = tmp()
    val s = spark
    val parser = new graft.GraftSqlParser(s.sessionState.sqlParser)
    def run(sql: String): Seq[org.apache.spark.sql.Row] =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(s)
    Ripple.createTopic(root, "lc", numBuckets = 1)
    import spark.implicits._
    def put(ids: Range): Unit = Ripple.write(
      ids.map(i => (i, s"v$i".getBytes("UTF-8"))).toDF("id", "data")
        .repartition(1), root, "lc", numBuckets = 1)
    put(0 until 10); put(10 until 20); put(20 until 30)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("lc", "b0000")
    // PIN SNAPSHOT captures now; retention must clamp to it
    val pin = run(s"PIN SNAPSHOT nightly ON lc IN '$root'")
    assert(pin.head.getString(0) == "nightly" && pin.head.getString(2).nonEmpty)
    assert(Ripple.snapshots(root, "lc").exists(_.name == "nightly"))
    put(30 until 40)
    // age the first three segments far past any horizon
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    log.segments(tb).take(3).foreach { case (p, _, _) => log.fs.setTimes(p, old, old) }
    val cut0 = run(s"ALTER TOPIC lc TRUNCATE (olderThanMs = 86400000) IN '$root'")
    assert(cut0.head.getInt(2) == 0,
      s"the live pin must clamp the cut to zero segments, got $cut0")
    // DROP SNAPSHOT releases the clamp; the cut proceeds
    assert(run(s"DROP SNAPSHOT nightly ON lc IN '$root'").head.getBoolean(2))
    val cut1 = run(s"ALTER TOPIC lc TRUNCATE (olderThanMs = 86400000) IN '$root'")
    assert(cut1.head.getInt(2) == 3, s"aged segments must drop, got $cut1")
    assert(Ripple.earliestOffsets(root, "lc")("b0000") == 30L)
    // exactly one policy key; unknown keys loud
    intercept[IllegalArgumentException] {
      run(s"ALTER TOPIC lc TRUNCATE (olderThanMs = 1, toBytes = 1) IN '$root'") }
    intercept[IllegalArgumentException] {
      run(s"ALTER TOPIC lc TRUNCATE (olderThanMillis = 1) IN '$root'") }
    // a zero/negative horizon is a typo'd mass-delete, not a policy
    val ez = intercept[IllegalArgumentException] {
      run(s"ALTER TOPIC lc TRUNCATE (olderThanMs = 0) IN '$root'") }
    assert(ez.getMessage.contains("must be positive"), ez.getMessage)
    intercept[IllegalArgumentException] {
      run(s"ALTER TOPIC lc TRUNCATE (toBytes = -1) IN '$root'") }
    // COMPACT TOPIC: byte-concat the remaining tiny segments
    put(40 until 50)
    assert(log.segments(tb).size == 2)
    val comp = run(s"COMPACT TOPIC lc IN '$root'")
    assert(!comp.head.getBoolean(1) && comp.head.getInt(2) == 2, s"got $comp")
    assert(log.segments(tb).size == 1)
    // COMPACT TOPIC KEYED: duplicate keys collapse to latest-per-key
    put(30 until 50) // same ids again at offsets 50-69
    val keyed = run(s"COMPACT TOPIC lc KEYED IN '$root'")
    assert(keyed.head.getBoolean(1) && keyed.head.getInt(2) > 0, s"got $keyed")
    assert(Ripple.read(spark, "" + root, "lc").count() == 20)
    assert(Ripple.read(spark, root, "lc").agg(min(col("offset"))).head.getLong(0) == 50L)
    // RESET CONSUMER: move a registered consumer's cursor through SQL
    graft.connector.ConsumerOffsets.commit(root, "lc", "nightly-job",
      Map("b0000" -> 55L))
    // earliest = the head segment's BASE offset (30 — the sparse span
    // start; reading from it skips the compacted gap), Kafka semantics
    val re = run(s"RESET CONSUMER nightly-job ON lc TO EARLIEST IN '$root'")
    assert(re == Seq(org.apache.spark.sql.Row("nightly-job", "lc", "b0000", 30L)),
      s"got $re")
    val re2 = run(s"RESET CONSUMER nightly-job ON lc TO TIMESTAMP 1 IN '$root'")
    assert(re2.head.getLong(3) == 50L,
      "a timestamp predating data seeks the first RETAINED record")
    assert(run(s"RESET CONSUMER nightly-job ON lc TO LATEST IN '$root'")
      .head.getLong(3) == 70L)
    // DROP CONSUMER unregisters it
    assert(run(s"DROP CONSUMER nightly-job ON lc IN '$root'").head.getBoolean(2))
    assert(!graft.connector.ConsumerOffsets.all(root, "lc").contains("nightly-job"))
    // session-conf root fallback works for the new verbs too
    s.conf.set("spark.graft.root", root)
    try assert(run("COMPACT TOPIC lc").head.getInt(2) == 0)
    finally s.conf.unset("spark.graft.root")
  }

  test("SQL hygiene verbs: VACUUM SNAPSHOTS collects expired pins; EXPIRE CONSUMERS deletes idle cursors — loud on bad keys") {
    val root = tmp()
    val s = spark
    val parser = new graft.GraftSqlParser(s.sessionState.sqlParser)
    def run(sql: String): Seq[org.apache.spark.sql.Row] =
      parser.parsePlan(sql)
        .asInstanceOf[org.apache.spark.sql.execution.command.RunnableCommand].run(s)
    Ripple.createTopic(root, "hv", numBuckets = 1)
    import spark.implicits._
    Ripple.write((0 until 10).map(i => (i, s"v$i".getBytes("UTF-8")))
      .toDF("id", "data").repartition(1), root, "hv", numBuckets = 1)
    // one pin that expires immediately, one permanent
    run(s"PIN SNAPSHOT fleeting ON hv (ttlMs = 1) IN '$root'")
    run(s"PIN SNAPSHOT keeper ON hv IN '$root'")
    Thread.sleep(30)
    // grace larger than the elapsed expiry: nothing collected yet
    assert(run(s"VACUUM SNAPSHOTS ON hv (graceMs = 3600000) IN '$root'")
      .head.getInt(2) == 0)
    val vac = run(s"VACUUM SNAPSHOTS ON hv IN '$root'") // default grace 0
    assert(vac.head.getLong(1) == 0L && vac.head.getInt(2) == 1, s"got $vac")
    assert(Ripple.snapshots(root, "hv").map(_.name) == Seq("keeper"),
      "the no-expiry pin must never vacuum")
    intercept[IllegalArgumentException] {
      run(s"VACUUM SNAPSHOTS ON hv (grace = 1) IN '$root'") }
    intercept[IllegalArgumentException] {
      run(s"VACUUM SNAPSHOTS ON hv (graceMs = -1) IN '$root'") }
    // EXPIRE CONSUMERS: idle-10-days dies, live survives, idempotent
    graft.connector.ConsumerOffsets.commit(root, "hv", "dead", Map("b0000" -> 3L))
    graft.connector.ConsumerOffsets.commit(root, "hv", "live", Map("b0000" -> 5L))
    val fs = graft.log.LogFs.get(new org.apache.hadoop.fs.Path(root),
      graft.log.LogFs.activeHadoopConf)
    val dDir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root, "hv"),
        ".consumers"), "dead")
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    fs.setTimes(new org.apache.hadoop.fs.Path(dDir, "cursor.json"), old, old)
    fs.setTimes(dDir, old, old)
    val ex = run(s"EXPIRE CONSUMERS ON hv (olderThanMs = 86400000) IN '$root'")
    assert(ex == Seq(org.apache.spark.sql.Row("dead", "hv", true)), s"got $ex")
    assert(Ripple.consumerOffsets(root, "hv").keySet == Set("live"))
    assert(run(s"EXPIRE CONSUMERS ON hv (olderThanMs = 86400000) IN '$root'")
      .isEmpty, "second run expires nothing")
    intercept[IllegalArgumentException] {
      run(s"EXPIRE CONSUMERS ON hv (olderThan = 1) IN '$root'") }
    intercept[IllegalArgumentException] {
      run(s"EXPIRE CONSUMERS ON hv (olderThanMs = 0) IN '$root'") }
  }

  test("zstd-dict topic: sink round-trip, keyed compaction RETRAINS the dict on its product") {
    import org.apache.spark.sql.functions._
    val root = tmp()
    Ripple.createTopic(root, "zd", numBuckets = 1)
    Ripple.setTopicConfig(root, "zd", graft.connector.TopicConfig(
      compression = Some("zstd-dict")))
    import spark.implicits._
    def putBatch(gen: Int): Unit = Ripple.write(
      (0 until 1200).map(i =>
        (i % 400, s"""{"k":${i % 400},"gen":$gen,"v":"value-$gen-$i"}"""
          .getBytes("UTF-8"))).toDF("id", "data").repartition(1),
      root, "zd", numBuckets = 1)
    putBatch(1); putBatch(2)
    // round-trip through the dict frames
    val all = Ripple.read(spark, root, "zd")
    assert(all.count() == 2400)
    val r0 = all.filter(col("offset") === 599)
      .select(col("data").cast("string")).head.getString(0)
    assert(r0 == s"""{"k":${599 % 400},"gen":1,"v":"value-1-599"}""")
    // keyed compaction: latest-per-key exact, and — because the rewrite
    // emits through a FrameWriter — the compacted product RETAINS
    // dictionary compression (a plain re-encode would leave these
    // sub-64B payloads raw, silently reverting the codec's whole win on
    // the compacted majority of a changelog)
    assert(Ripple.compactKeyed(root, "zd") > 0)
    val kept = Ripple.read(spark, root, "zd")
      .select(col("offset"), col("id"), col("data").cast("string")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(kept.length == 400)
    // latest per key = gen 2's last write of that key (i = key + 800)
    kept.foreach { case (off, id, v) =>
      assert(off == 1200L + 800 + id, s"wrong retained offset for key $id: $off")
      assert(v == s"""{"k":$id,"gen":2,"v":"value-2-${800 + id}"}""", v)
    }
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    val tb = graft.model.TopicBucket("zd", "b0000")
    val segs = log.segments(tb)
    assert(segs.size == 1 && graft.log.SegmentCodec.isSparse(segs.head._1.getName))
    // the product's FIRST frame is the retrained dictionary (negative
    // length prefix, flags byte = the dict bit alone) — a plain
    // re-encode would have no dict frame and leave every sub-64B
    // payload raw
    val head = new Array[Byte](5)
    val in = log.fs.open(segs.head._1)
    try in.readFully(head) finally in.close()
    val headLen = java.nio.ByteBuffer.wrap(head, 0, 4).getInt()
    assert(headLen < 0 && head(4) == 0x20.toByte,
      s"compacted product must open with a retrained dict frame, " +
        s"got len=$headLen flags=0x${"%02x".format(head(4))}")
    // and the total stays below the all-raw floor (raw explicit-offset
    // envelope = 25 B/record)
    val rawFloor = kept.map(_._3.getBytes("UTF-8").length + 25L).sum
    assert(log.fs.getFileStatus(segs.head._1).getLen < rawFloor,
      s"compacted product must beat the raw floor: " +
        s"${log.fs.getFileStatus(segs.head._1).getLen} vs $rawFloor")
  }

  test("AdminKvs: quoted values may contain '=' and ','; first '=' splits the pair") {
    val kvs = graft.AdminKvs.parse("a = 'x=1,y=2', b = 3, c='q''z'")
    assert(kvs == Map("a" -> "x=1,y=2", "b" -> "3", "c" -> "q''z"))
    intercept[IllegalArgumentException] {
      graft.AdminKvs.parse("a = 'unterminated")
    }
    intercept[IllegalArgumentException] { graft.AdminKvs.parse("nokey") }
  }

  test("record headers through the connector: round-trip, pruned projection, SQL WITH HEADERS, keyed compaction keeps the latest") {
    val root = tmp()
    Ripple.createTopic(root, "hdr", numBuckets = 2)
    import spark.implicits._
    // even ids carry 3 ordered headers (one with a NULL value); odd none
    val df = samplePayloads(20).withColumn("headers",
      when(col("id") % 2 === 0, array(
        struct(lit("parity").as("key"),
          lit("even".getBytes("UTF-8")).as("value")),
        struct(lit("trace").as("key"),
          concat(lit("t-"), col("id").cast("string")).cast("binary").as("value")),
        struct(lit("nil").as("key"), lit(null).cast("binary").as("value")))))
    Ripple.write(df, root, "hdr", numBuckets = 2)

    // default read keeps the classic envelope — headers are OPT-IN
    assert(!Ripple.read(spark, root, "hdr").columns.contains("headers"))
    val wh = Ripple.readWithHeaders(spark, root, "hdr")
    assert(wh.schema("headers").dataType == graft.model.Schemas.headersType)
    assert(wh.filter(col("headers").isNull).count() == 10) // odd ids: none
    def flat(d: org.apache.spark.sql.DataFrame) = d
      .filter(col("headers").isNotNull)
      .select(col("id"), posexplode(col("headers")))
      .select(col("id"), col("pos"), col("col.key"),
        col("col.value").cast("string"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        Option(r.getString(3)))).toSet
    val want = (0 until 20 by 2).flatMap(i => Seq(
      (i, 0, "parity", Some("even")),
      (i, 1, "trace", Some(s"t-$i")),
      (i, 2, "nil", None))).toSet
    assert(flat(wh) == want)
    // payload-pruned projection (no `data`): header blocks still parse —
    // the skip walk seeks past payload bytes only
    assert(flat(wh.select("id", "headers")) == want)

    // SQL spelling, and headers composing with the table view (round 19:
    // the r18 refusal is lifted — the view carries the WINNING record's
    // headers, and the SQL spelling equals the Scala tableView)
    val parser = new graft.GraftSqlParser(spark.sessionState.sqlParser)
    def sql(stmt: String) = org.apache.spark.sql.graft.bridge.ofRows(
      spark, parser.parsePlan(stmt))
    assert(flat(sql(s"READ TOPIC hdr WITH HEADERS IN '$root'")) == want)
    val tv = sql(s"READ TOPIC hdr WITH HEADERS AS TABLE IN '$root'")
    assert(tv.columns.contains("headers"))
    // unique ids, written once: the table view IS the log, headers intact
    assert(flat(tv) == want)
    assert(flat(Ripple.tableView(Ripple.readWithHeaders(spark, root, "hdr")))
      == want)

    // keyed compaction keeps exactly the LATEST record's headers per key
    val gen2 = samplePayloads(5).withColumn("headers",
      array(struct(lit("gen").as("key"),
        lit("2".getBytes("UTF-8")).as("value"))))
    Ripple.write(gen2, root, "hdr", numBuckets = 2)
    assert(Ripple.compactKeyed(root, "hdr") > 0)
    val after = flat(Ripple.readWithHeaders(spark, root, "hdr"))
    val wantAfter = (6 until 20 by 2).flatMap(i => Seq(
      (i, 0, "parity", Some("even")),
      (i, 1, "trace", Some(s"t-$i")),
      (i, 2, "nil", None))).toSet ++
      (0 until 5).map(i => (i, 0, "gen", Some("2"))).toSet
    assert(after == wantAfter)

    // lifted read surfaces `_headers` next to parsed payload columns
    Ripple.createTopic(root, "hdrl", numBuckets = 1)
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    graft.connector.TopicSchemas.register(log, "hdrl",
      StructType(Seq(StructField("k", IntegerType))))
    Ripple.write(
      spark.range(3).select(col("id").cast("int").as("id"),
        to_json(struct(col("id").cast("int").as("k"))).cast("binary").as("data"),
        array(struct(lit("src").as("key"),
          lit("lift".getBytes("UTF-8")).as("value"))).as("headers")),
      root, "hdrl", numBuckets = 1)
    val lifted = spark.read.format("ripple").option("path", root)
      .option("topic", "hdrl").option("lift", "true")
      .option("includeHeaders", "true").load()
    val lr = lifted.select(col("k"), col("_headers")(0).getField("key"),
        col("_headers")(0).getField("value").cast("string"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(lr == (0 until 3).map(i => (i, "src", "lift")).toSet)

    // a mis-typed headers column on write is loud, not silently dropped
    val bad = intercept[Exception] {
      Ripple.write(samplePayloads(2).withColumn("headers",
        array(lit("not-a-struct"))), root, "hdr", numBuckets = 2)
    }
    assert(bad.getMessage.contains("headers"), bad.getMessage)
  }

  test("commit records carry exact stats on every scheme, for every writer; object stores gate and describe on rows") {
    import org.apache.spark.sql.functions._
    import graft.connector.DistributedConcat
    import graft.model.{Payload, TopicBucket}
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.hdfstest.impl", classOf[StrictHdfsTestFs].getName)
    hc.set("fs.ostest.impl", classOf[ObjectStoreTestFs].getName)
    hc.set("graft.log.nonAtomicRenameSchemes", "s3,s3a,gs,abfs,ostest")
    import spark.implicits._
    for (scheme <- Seq("file", "hdfstest", "ostest")) {
      val root = s"$scheme:" + tmp()
      val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
      // every committed segment's record equals a header walk + stat of its file
      def exact(topic: String, writer: String): Unit =
        log.buckets(topic).foreach { tb =>
          log.segmentRecords(tb).foreach { case (p, m) =>
            assert(SegFacts.of(log.fs, p) == ((m.rows, m.minTs, m.maxTs, m.bytes)),
              s"$scheme/$writer: record $m disagrees with ${SegFacts.of(log.fs, p)}")
          }
        }
      val tb = TopicBucket("x", "b0000")
      Ripple.createTopic(root, "x", numBuckets = 1)
      log.append(tb, (0 until 4).map(i => Payload(i, s"a$i".getBytes("UTF-8"))))
      exact("x", "append")
      log.appendAt(tb, log.size(tb), Seq(
        (Payload(1, "b1".getBytes("UTF-8")), 5000L), (Payload(2, "b2".getBytes("UTF-8")), 3000L),
        (Payload(3, "b3".getBytes("UTF-8")), 7000L)))
      exact("x", "appendAt")
      def put(keys: Seq[Int], t0: Long): Unit =
        Ripple.write(keys.zipWithIndex.map { case (k, i) =>
          (k, s"v$k-$t0".getBytes("UTF-8"), new java.sql.Timestamp(t0 - 100L * i)) }
          .toDF("id", "data", "ts").repartition(1), root, "x", numBuckets = 1)
      put(Seq(1, 4, 5), 9000L)
      exact("x", "publishStaged")
      assert(log.compactSegments("x") == 3)
      exact("x", "compactSegments (local)")
      put(Seq(6, 7), 11000L); put(Seq(1, 8), 12000L)
      assert(log.compactSegments("x", concat =
        DistributedConcat.runner(spark, log, minBytes = 0L)) == 3)
      exact("x", "compactSegments (runner)")
      assert(log.compactKeyed("x") == 1)
      exact("x", "compactKeyed (local)")
      put(Seq(2, 9), 13000L); put(Seq(6), 14000L)
      assert(log.compactKeyed("x", rewrite =
        DistributedConcat.keyedRunner(spark, log, minBytes = 0L)) == 3)
      exact("x", "compactKeyed (keyedRunner)")
      val live = Ripple.read(spark, root, "x").count()
      assert(live == 10L, s"$scheme: ten distinct keys retained, got $live")
      assert(log.segmentRecords(tb).map(_._2.rows) == Seq(live))
      // an all-tombstone bucket whose deletes aged out: the product
      // retains nothing and records rows 0 with the ts sentinels
      for ((topic, mover) <- Seq[(String, Seq[graft.log.KeyedTask] =>
          Map[String, graft.log.SegmentCodec.KeyedRewrite])](
          "e" -> log.localKeyed, "er" -> DistributedConcat.keyedRunner(spark, log, 0L))) {
        val te = TopicBucket(topic, "b0000")
        Ripple.createTopic(root, topic, numBuckets = 1)
        def dels(start: Long, keys: Seq[Int]): Unit =
          log.appendAt(te, start, keys.map(k => (Payload(k, null), 1000L + k)))
        dels(0L, Seq(1, 2)); dels(2L, Seq(3))
        assert(log.compactKeyed(topic, rewrite = mover) == 2) // first pass keeps deletes
        dels(3L, Seq(4)); dels(4L, Seq(5))
        assert(log.compactKeyed(topic, rewrite = mover,
          minStartByBucket = Map("b0000" -> 3L)) == 2)
        val old = System.currentTimeMillis() - 2 * 86400000L
        log.segments(te).foreach { case (p, _, _) => log.fs.setTimes(p, old, -1) }
        assert(log.compactKeyed(topic, rewrite = mover) == 2)
        exact(topic, s"compactKeyed (aged tombstones, $topic)")
        val recs = log.segmentRecords(te).map(_._2)
        assert(recs.map(m => (m.start, m.count, m.rows, m.minTs, m.maxTs, m.bytes)) ==
          Seq((0L, 5L, 0L, Long.MaxValue, Long.MinValue, 0L)), recs.toString)
        // readers prune it: no rows, no partitions under a ts predicate,
        // no freshness, and the seek answers the end offset
        assert(Ripple.read(spark, root, topic).count() == 0L)
        assert(Ripple.read(spark, root, topic)
          .filter(col("ts") >= lit(new java.sql.Timestamp(0L))).rdd.getNumPartitions == 0)
        val d = Ripple.describeTopic(root, topic).buckets("b0000")
        assert(d.rows == 0L && d.latestTs.isEmpty, d.toString)
        assert(log.offsetForTimestamp(te, 0L) == 5L)
      }
      // DESCRIBE rows and the metadata COUNT(*) are exact for a keyed
      // topic; the sink's dirty-ratio gate counts rows, not bytes
      Ripple.createTopic(root, "mc", numBuckets = 1)
      Ripple.write((0 until 9).map(i => (i % 3, s"m$i".getBytes("UTF-8")))
        .toDF("id", "data").repartition(1), root, "mc", numBuckets = 1)
      val agg = Ripple.read(spark, root, "mc").agg(count(lit(1)))
      assert(agg.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.exists(_.isInstanceOf[graft.connector.RippleMetaAggScan]))
      assert(Ripple.compactKeyed(root, "mc") > 0)
      assert(agg.collect().head.getLong(0) == 3L, s"$scheme: metadata COUNT(*)")
      assert(Ripple.describeTopic(root, "mc").buckets("b0000").rows == 3L)
      Ripple.createTopic(root, "dg", numBuckets = 1)
      Ripple.setTopicConfig(root, "dg", graft.connector.TopicConfig(
        cleanupPolicy = Some("compact"), autoCompactSegments = Some(3)))
      val tg = TopicBucket("dg", "b0000")
      def putDg(keys: Seq[Int], pad: Int): Unit =
        Ripple.write(keys.map(k => (k, ("v" + "#" * pad).getBytes("UTF-8")))
          .toDF("id", "data").repartition(1), root, "dg", numBuckets = 1)
      // a HEAVY cleaned prefix of 7 keys, then LIGHT dirt: 5 dense rows
      // stay below it (deferred: byte-concat), 7 reach it — by rows; by
      // bytes the light dirt would never reach the heavy prefix
      putDg(1 to 4, 600); putDg(5 to 6, 600); putDg(Seq(7), 600)
      assert(log.segments(tg).size == 1, "first crossing keyed-compacts")
      putDg(11 to 13, 1); putDg(14 to 15, 1)
      assert(log.segments(tg).size == 2, "5 dirty rows < 7 clean rows: deferred")
      putDg(Seq(1, 2), 1)
      val end = log.segments(tg)
      assert(end.size == 1 && graft.log.SegmentCodec.isSparse(end.head._1.getName),
        s"$scheme: 7 dirty rows reach 7 clean rows: keyed compaction, got " +
          end.map(_._1.getName).mkString(", "))
      assert(Ripple.describeTopic(root, "dg").buckets("b0000").rows == 12L,
        s"$scheme: DESCRIBE rows = retained keys, not the 14-offset span")
    }
  }

  test("planners open and stat no data file: describe, statistics, MIN/MAX(ts), byteFloors, ts pruning, cold seek") {
    import org.apache.spark.sql.functions._
    import graft.model.{Payload, TopicBucket}
    import scala.jdk.CollectionConverters._
    spark.sparkContext.hadoopConfiguration
      .set("fs.cntfs.impl", classOf[CountingReadFs].getName)
    val root = "cntfs:" + tmp()
    val log = graft.log.FileTopicLog.cached(root, graft.log.LogFs.activeHadoopConf)
    Ripple.createTopic(root, "pl", numBuckets = 1)
    val tb = TopicBucket("pl", "b0000")
    // 50 segments of 4 rows, segment i stamped [i s, i s + 3 ms]
    (0 until 50).foreach { i =>
      log.appendAt(tb, 4L * i, (0 until 4).map(j =>
        (Payload(4 * i + j, Array[Byte](1, 2, 3)), 1000L * i + j)))
    }
    CountingReadFs.reset()
    val d = Ripple.describeTopic(root, "pl").buckets("b0000")
    assert(d.rows == 200L && d.segments == 50 && d.latestTs.contains(49003L) && d.bytes > 0L)
    val stats = Ripple.read(spark, root, "pl").queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(200)) && stats.sizeInBytes == BigInt(d.bytes))
    val ext = Ripple.read(spark, root, "pl").agg(min("ts"), max("ts")).collect().head
    assert(ext.getTimestamp(0).getTime == 0L && ext.getTimestamp(1).getTime == 49003L)
    assert(log.byteFloors("pl", d.bytes / 2).get("b0000").exists(_ > 0L))
    assert(Ripple.read(spark, root, "pl")
      .filter(col("ts") >= lit(new java.sql.Timestamp(25000L))).rdd.getNumPartitions == 25)
    assert(CountingReadFs.dataOpens.get == 0L && CountingReadFs.dataStats.get == 0L,
      s"planners touched data files: ${CountingReadFs.touched}")
    // a cold seek (fresh instance, no cached view) walks ONE boundary segment
    val cold = new graft.log.FileTopicLog(root, graft.log.LogFs.activeHadoopConf)
    assert(cold.offsetForTimestamp(tb, 25002L) == 102L)
    val boundary = log.segments(tb)(25)._1.getName
    assert(CountingReadFs.touched.asScala.toSet == Set(boundary),
      s"only the boundary segment may be touched: ${CountingReadFs.touched}")
    assert(CountingReadFs.dataOpens.get == 1L)
  }
}
