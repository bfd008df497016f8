package graft

import graft.ops.Similarity
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom function surface: SQL registration of the Catalyst expressions,
  * UDF registration, and the TopKAggregator ≡ window-formulation law.
  */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-functions-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("custom expressions are SQL-callable after registry registration") {
    // the production registration helper (same builders GraftExtensions
    // injects via spark.sql.extensions), on an isolated session
    val s = spark.newSession()
    graft.GraftFunctions.register(s)

    val row = s.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       jaccard_sim(array('a','b'), array('b','c')) AS j,
        |       simhash64(array(1L, 2L, 3L)) AS s,
        |       sorted_jaccard_long_sim(array(1L, 2L), array(2L, 3L)) AS jl""".stripMargin)
      .collect().head
    assert(row.getDouble(0) == 1.0)
    assert(math.abs(row.getDouble(1) - (1.0 / 3.0)) < 1e-12)
    assert(row.getLong(2) != 0L)
    assert(math.abs(row.getDouble(3) - (1.0 / 3.0)) < 1e-12)
    // registration is session-scoped: the base session is untouched
    assert(spark.newSession().sessionState.functionRegistry
      .lookupFunctionBuilder(
        org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim")).isEmpty)
  }

  test("classic scala UDF registration works alongside expressions") {
    spark.udf.register("graft_band", (x: Double) =>
      if (x < 50000) "low" else if (x < 150000) "mid" else "high")
    spark.read.parquet(s"$sf/orders.parquet").createOrReplaceTempView("o")
    val n = spark.sql(
      "SELECT graft_band(o_totalprice) AS b, count(1) n FROM o GROUP BY 1").count()
    assert(n >= 2)
  }

  test("TopKAggregator output equals the window formulation exactly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 25)
    val viaWindow = Similarity.bruteForceTopKWindow(emb, q, "vec_id", "embedding", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaAgg = Similarity.bruteForceTopKAgg(emb, q, "vec_id", "embedding", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaWindow == viaAgg)
    assert(viaWindow.size == 25 * 7)
  }

  test("topic discovery APIs list topics/buckets/offsets") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("disc").toString
    graft.api.Ripple.createTopic(root, "alpha", 2)
    graft.api.Ripple.createTopic(root, "beta", 3)
    graft.api.Ripple.write(
      Seq((1, "x".getBytes), (2, "y".getBytes)).toDF("id", "data"), root, "alpha")
    assert(graft.api.Ripple.topics(root) == Seq("alpha", "beta"))
    assert(graft.api.Ripple.buckets(root, "beta") == Seq("b0000", "b0001", "b0002"))
    val ends = graft.api.Ripple.endOffsets(root, "alpha")
    assert(ends.values.sum == 2)
  }

  test("compaction produces an equivalent parquet mirror") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("compact").toString
    graft.api.Ripple.createTopic(root, "t", 2)
    graft.api.Ripple.write(
      (0 until 50).map(i => (i, s"m$i".getBytes)).toDF("id", "data"), root, "t")
    val out = java.nio.file.Files.createTempDirectory("mirror").toString + "/t"
    graft.api.Ripple.compactToParquet(spark, root, "t", out)
    val mirror = spark.read.parquet(out)
    assert(mirror.count() == 50)
    assert(mirror.select(sum("id")).collect().head.getLong(0) == (0 until 50).sum)
    // mirror is bucket-partitioned for pruned analytical scans
    assert(mirror.filter(col("bucket") === "b0000").rdd.getNumPartitions <=
      mirror.rdd.getNumPartitions)
  }

  test("BenchHistory parses per-query medians and calibs from history lines") {
    val f = java.nio.file.Files.createTempFile("bench-history", ".jsonl")
    // line t2 carries an sf1 block whose nested "queries" key precedes the
    // flat per-query map — the REAL layout Bench writes; the round-8 parser
    // latched onto the nested one and emptied the main history (r9 fix)
    val lines = Seq(
      """{"at":"t1","metric":"total","value":10,"calib":0.25,"calib_io":0.8,"queries":{"q01_agg":1.0,"q54_dedup_minhash":2.0},"sf":"x"}""",
      """{"at":"t2","metric":"total","value":11,"calib":0.27,"calib_io":1.1,"sf1":{"gen_sec":0.0,"scale":10,"skipped_on_budget":0,"queries":{"q74":{"sf01":2.25,"sf1":12.99,"ratio":5.77},"q54":{"sf01":2.0,"sf1":7.5,"ratio":3.75,"n":3,"hist":6.6}}},"queries":{"q01_agg":3.0,"q54_dedup_minhash":2.5,"q99_salted":-1.0},"sf":"x"}""",
      """{"at":"t3","metric":"total","value":12,"calib":0.26,"calib_io":0.9,"sf1":{"gen_sec":1.0,"scale":10,"skipped_on_budget":0,"queries":{"q74":{"sf01":2.3,"sf1":6.6,"ratio":2.87}}},"queries":{"q01_agg":2.0}}""",
      // a sub-millisecond cell: Double.toString emits a NEGATIVE exponent
      // (4.9E-4) — one such value must not empty the whole line's history
      """{"at":"t4","metric":"total","value":13,"calib":0.26,"calib_io":0.9,"sf1":{"gen_sec":0.0,"scale":10,"skipped_on_budget":0,"queries":{"q74":{"sf01":4.9E-4,"sf1":6.6,"ratio":2.87}}},"queries":{"q01_agg":2.0,"q02_fast":4.9E-4}}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes("UTF-8"))
    val h = BenchHistory.load(f.toString)
    assert(h.queryMedian("q01_agg").contains(2.0))
    assert(h.queryMedian("q54_dedup_minhash").contains(2.25))
    assert(h.queryMedian("q02_fast").contains(4.9e-4))
    assert(h.queryMedian("q99_salted").isEmpty) // -1 failure sentinel excluded
    assert(h.queryMedian("q_missing").isEmpty)
    // sf1 nested keys never leak into the main history...
    assert(h.queryMedian("sf01").isEmpty && h.queryMedian("ratio").isEmpty)
    // ...and the sf1 block feeds its own short-key medians (with or
    // without the escalation fields appended after "ratio")
    assert(h.sf1Median("q74").contains(6.6)) // [12.99, 6.6, 6.6]
    assert(h.sf1Median("q54").contains(7.5))
    assert(h.sf1Median("q95").isEmpty)
    assert(h.calibMedian.contains(0.26) && h.calibIoMedian.contains(0.9))
    // a missing file yields an empty, never-throwing history
    val none = BenchHistory.load("/nonexistent/bench.jsonl")
    assert(none.queryMedian("q01_agg").isEmpty && none.calibMedian.isEmpty)
  }

  test("GramHashes ≡ the declarative transform chain, both families, randomized") {
    import spark.implicits._
    import graft.functions.textgrams.gram_hashes
    import graft.ops.HashFamily
    // randomized texts incl. unicode, repeats, punctuation, single-token
    // and sub-n docs (the shortDocWhole branches), plus the empty string
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "γράμμα", "préfix", "x", "longer-token",
      "alpha", "句子", "q!", "7", "__", "ümlaut")
    val texts = (0 until 300).map { _ =>
      val t = rnd.nextInt(40)
      (0 until t).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "one" :+ "one two"
    val df = texts.toDF("text").withColumn("ws", split(trim(col("text")), "\\s+"))
    for (n <- Seq(2, 3, 13); family <- Seq(HashFamily.Xx64, HashFamily.Portable60)) {
      val declarativePos =
        when(size(col("ws")) >= n, transform(
            transform(sequence(lit(0), size(col("ws")) - n),
              i => concat_ws(" ", slice(col("ws"), i + 1, lit(n)))),
            g => family(g)))
          .otherwise(array().cast("array<long>"))
      val declarativeWhole =
        when(size(col("ws")) < n, array(family(concat_ws(" ", col("ws")))))
          .otherwise(transform(
            transform(sequence(lit(0), size(col("ws")) - n),
              i => concat_ws(" ", slice(col("ws"), i + 1, lit(n)))),
            g => family(g)))
      val diff = df.select(
          gram_hashes(col("ws"), n, family.portable, shortDocWhole = false).as("fused"),
          declarativePos.as("decl"),
          gram_hashes(col("ws"), n, family.portable, shortDocWhole = true).as("fusedW"),
          declarativeWhole.as("declW"))
        .filter(col("fused") =!= col("decl") || col("fusedW") =!= col("declW"))
      assert(diff.count() == 0,
        s"n=$n family=$family: fused gram hashes diverge:\n" +
          diff.limit(3).collect().mkString("\n"))
    }
  }

  test("CdcChunkStats ≡ the declarative aggregate fold, both families, randomized") {
    import spark.implicits._
    import graft.functions.textgrams.cdc_chunk_stats
    import graft.ops.HashFamily
    val rnd = new scala.util.Random(777)
    val vocab = Vector("alpha", "beta", "γράμμα", "préfix", "x", "tok", "7",
      "句子", "q!", "__", "word", "ümlaut", "zz", "m")
    val texts = (0 until 300).map { _ =>
      val t = rnd.nextInt(60)
      (0 until t).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } :+ "" :+ "one" :+ "one two three"
    val df = texts.toDF("text").withColumn("ws", split(trim(col("text")), "\\s+"))
    for (modulus <- Seq(1, 4, 16); family <- Seq(HashFamily.Xx64, HashFamily.Portable60)) {
      // the exact declarative fold cdcChunks used before round 20
      def emptyChunks = array().cast("array<array<string>>")
      def emptyCur = array().cast("array<string>")
      val folded = aggregate(
        col("ws"),
        struct(emptyChunks.as("done"), emptyCur.as("cur")),
        (acc, w) => when(pmod(family(w), lit(modulus.toLong)) === 0,
            struct(
              concat(acc.getField("done"),
                array(concat(acc.getField("cur"), array(w)))).as("done"),
              emptyCur.as("cur")))
          .otherwise(struct(
            acc.getField("done").as("done"),
            concat(acc.getField("cur"), array(w)).as("cur"))),
        acc => when(size(acc.getField("cur")) > 0,
            concat(acc.getField("done"), array(acc.getField("cur"))))
          .otherwise(acc.getField("done")))
      val decl = transform(folded, c => struct(
        size(c).cast("long").as("n_words"),
        family(concat_ws(" ", c)).as("chunk_hash")))
      val diff = df.select(
          cdc_chunk_stats(col("ws"), modulus, family.portable).as("fused"),
          decl.as("decl"))
        .filter(col("fused") =!= col("decl"))
      assert(diff.count() == 0,
        s"modulus=$modulus family=$family: fused CDC chunks diverge:\n" +
          diff.limit(3).collect().mkString("\n"))
    }
  }

  test("HashFamily.Portable60 ≡ the JVM replica portableHash60Jvm, randomized") {
    import spark.implicits._
    import graft.ops.{HashFamily, TextAnalysis}
    // the replica builds the classifier's plan-constant weight table, so
    // it must match the Column formulation on every string: unicode
    // (multi-byte UTF-8, astral-plane code points), empty, long
    val rnd = new scala.util.Random(6060)
    val alphabet = "abcXYZ09 _-!γράμμαéü句子\u0000\t" + "\uD83D\uDE00"
    def randomString(len: Int): String = {
      val sb = new StringBuilder
      while (sb.length < len) {
        // never index the emoji's low half; its high half takes both
        val i = rnd.nextInt(alphabet.length - 1)
        if (alphabet.charAt(i).isHighSurrogate) sb.append(alphabet, i, i + 2)
        else sb.append(alphabet.charAt(i))
      }
      sb.toString
    }
    val strings = (0 until 300).map(_ => randomString(rnd.nextInt(40))) ++
      Seq("", " ", "qw:0", "qw:4095", randomString(5000), "x" * 100000)
    val got = strings.toDF("s")
      .select(col("s"), HashFamily.Portable60(col("s")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.length == strings.length)
    got.foreach { case (s, h) =>
      assert(h == TextAnalysis.portableHash60Jvm(s),
        s"Portable60 diverges from the JVM replica on a ${s.length}-char string")
    }
  }

  test("WinnowMins ≡ the declarative window-min chain, randomized") {
    import spark.implicits._
    import graft.functions.textgrams.winnow_mins
    val rnd = new scala.util.Random(31337)
    // long arrays with REPEATS (the dedupe path) and ties inside windows
    val arrays = (0 until 300).map { _ =>
      val n = rnd.nextInt(30)
      (0 until n).map(_ => (rnd.nextInt(8) - 3).toLong)
    } :+ Seq.empty[Long] :+ Seq(5L) :+ Seq(5L, 5L, 5L)
    val df = arrays.toDF("gh")
    for (w <- Seq(1, 2, 4, 7)) {
      val decl = when(size(col("gh")) >= w,
          array_distinct(transform(sequence(lit(1), size(col("gh")) - (w - 1)),
            j => array_min(slice(col("gh"), j, lit(w))))))
        .when(size(col("gh")) >= 1, array(array_min(col("gh"))))
        .otherwise(array().cast("array<long>"))
      val diff = df.select(winnow_mins(col("gh"), w).as("fused"), decl.as("decl"))
        .filter(col("fused") =!= col("decl"))
      assert(diff.count() == 0,
        s"w=$w: winnow minima diverge:\n" + diff.limit(3).collect().mkString("\n"))
    }
  }

  test("PayloadJson ≡ from_json(cast(data as string)): generated events + byte-level edge cases, non-UTC zone") {
    import graft.functions.payload.payload_json
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    val cases = PayloadCorpus.edges ++
      PayloadCorpus.events(seed = 7L, n = 3000).zipWithIndex.map { case (b, i) => s"event $i" -> b }
    val input = s.createDataFrame(
      s.sparkContext.parallelize(cases.map { case (n, b) => Row(n, b) }, 4),
      StructType(Seq(StructField("case", StringType), StructField("data", BinaryType))))
    val schema = PayloadCorpus.schema
    val got = input.select(col("case"),
        payload_json(col("data"), schema).as("p"),
        from_json(col("data").cast("string"), schema).as("f"))
      .collect().map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(got.size == cases.size)
    val diffs = got.collect { case (n, (p, f)) if p != f => s"$n: payload_json=$p from_json=$f" }
    assert(diffs.isEmpty, diffs.take(5).mkString("\n"))
    // the edge cases exercise what they name: partial results, all-null
    // rows, null structs, zone-dependent timestamps
    def edge(n: String) = got(n)._1.asInstanceOf[Row]
    assert(edge("null payload") == null && edge("empty") == null && edge("whitespace") == null)
    assert(edge("bom").toSeq.forall(_ == null), "from_json reads a BOM as a bad record")
    assert(edge("type mismatch").getAs[String]("name") == "x" &&
      edge("type mismatch").isNullAt(0), "partial result keeps name")
    assert(edge("invalid utf-8").getAs[String]("name") == "a\ufffd(")
    assert(edge("zone-less timestamp").getAs[java.sql.Timestamp]("at").toInstant ==
      java.time.Instant.parse("2026-01-01T05:00:00Z"), "parsed in the session zone")
    assert(got.count { case (n, (p, _)) => n.startsWith("event") && p != null &&
      !p.asInstanceOf[Row].isNullAt(5) } > 1000, "events carry parsed timestamps")
  }

  test("PayloadJson allocates at most 4 KB per pubsub-shaped record on the evaluating thread") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types._
    val r = new scala.util.Random(11L)
    val kinds = Seq("view", "click", "search", "add_to_cart", "checkout", "purchase")
    val n = 20000
    val rows = Array.tabulate(n) { i =>
      InternalRow(PayloadCorpus.pubsubEvent(1L << 32 | i, r.nextInt(100000),
        kinds(r.nextInt(kinds.size)), r.nextInt(100000), r.nextInt(1000),
        1767225600000L + r.nextInt(21600000)).getBytes("UTF-8"))
    }
    val expr = graft.functions.PayloadJson(BoundReference(0, BinaryType, nullable = true),
      PayloadCorpus.pubsubSchema, Some("UTC"))
    def evalAll(): Long = {
      var sum = 0L
      var i = 0
      while (i < n) { sum += expr.eval(rows(i)).asInstanceOf[InternalRow].getLong(4); i += 1 }
      sum
    }
    evalAll(); evalAll() // warm: parser built, JIT compiled
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val sum = evalAll()
    val perRecord = (mx.getThreadAllocatedBytes(tid) - before) / n
    assert(sum > 0)
    assert(perRecord <= 4096, s"$perRecord B allocated per record")
  }
}
