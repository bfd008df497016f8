package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Smoke coverage of the SparkEntry query surface on sf0.001 — the full
  * value-level gate is the driver's DuckDB oracle (tools/check_oracle.py
  * replicates it locally at sf0.01).
  */
class QueriesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("all queries run and are non-degenerate on sf0.001") {
    import graft.ops.Materialize
    val empties = Set("q06_anti_join", "q22_except") // legitimately empty
    def pins: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    SparkEntry.queries.foreach { case (name, fn) =>
      // every pin a query takes is released by its scope or by the
      // release of its result: no persistent RDD outlives the query
      val before = pins
      val df = Materialize.scoped(fn(spark, sf))
      val n = df.count()
      Materialize.release(df)
      assert((pins -- before).isEmpty, s"$name left pins ${pins -- before}")
      if (!empties(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("operators and sinks pin only through Materialize (source lint)") {
    // a direct pin or release outside Materialize.scala escapes the scope
    // lifecycle: it is never released, or released while still read
    // (`Materialize.cache(` is the lifecycle's own lazy pin)
    val pin = raw"(?<!Materialize)\.(persist|cache|localCheckpoint|checkpoint|unpersist)\(".r
    val hits = Seq("src/main/scala/graft/ops", "src/main/scala/graft/streaming")
      .flatMap { d =>
        val files = java.nio.file.Files.list(java.nio.file.Paths.get(d))
        try files.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally files.close()
      }
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Materialize.scala")
      .flatMap { p =>
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if pin.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, s"direct pins outside Materialize:\n${hits.mkString("\n")}")
  }

  test("the log, connector, streaming and operator layers get a filesystem only through LogFs (source lint)") {
    // LogFs.get is the one place that builds a filesystem for files these
    // layers write themselves: a private instance, checksums off, and a
    // `file:` instance that starts no chmod process per create or mkdirs
    val acquire = raw"(getFileSystem|FileSystem\.get|FileSystem\.newInstance)\(".r
    val hits = Seq("log", "connector", "streaming", "ops")
      .map(d => java.nio.file.Paths.get(s"src/main/scala/graft/$d"))
      .flatMap { d =>
        val files = java.nio.file.Files.list(d)
        try files.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]) finally files.close()
      }
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "LogFs.scala")
      .flatMap { p =>
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if acquire.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
        }.toList finally src.close()
      }
    assert(hits.isEmpty, s"filesystems acquired outside LogFs.get:\n${hits.mkString("\n")}")
  }

  test("asofMerged == join+window as-of on adversarial random timelines") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // seeded fixtures with the shapes that break as-of joins: timestamp
    // TIES (order==event time, duplicate order dates per user), users with
    // no orders, orders with no events, and power keys (one user holding
    // ~25% of all orders — the fan-out the merged form exists to survive)
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${1 + day % 28}%02d 00:00:00")
      val nUsers = 40
      // NULL keys/times never match under SQL three-valued logic — the
      // merged form must drop them too (a null right time would otherwise
      // sort first and be carried forward as a bogus "latest" match)
      val orders = ((0 until 600).map { i =>
        val user = if (rnd.nextInt(4) == 0) 7L else rnd.nextInt(nUsers).toLong
        (Option(i.toLong), Option(user), Option(ts(rnd.nextInt(20))))
      } ++ Seq(
        (Option(9990L), Option(7L), Option.empty[java.sql.Timestamp]),
        (Option(9991L), Option.empty[Long], Option(ts(3)))
      )).toDF("o_orderkey", "o_custkey", "o_orderdate")
      val events = ((0 until 300).map { i =>
        (Option(rnd.nextInt(nUsers + 5).toLong), Option(ts(rnd.nextInt(22))),
          Option(i.toLong)) // users 40..44 have no orders
      } ++ Seq(
        (Option(7L), Option.empty[java.sql.Timestamp], Option(8880L)),
        (Option.empty[Long], Option(ts(5)), Option(8881L))
      )).toDF("user_id", "ts", "event_id")

      val w = Window.partitionBy($"event_id").orderBy($"o_orderdate".desc, $"o_orderkey".desc)
      val reference = events.join(orders,
          $"o_custkey" === $"user_id" && $"o_orderdate" <= $"ts")
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"event_id", $"o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val merged = graft.queries.Relational.asofMerged(
          events, "user_id", "ts", orders, "o_custkey", "o_orderdate",
          rightTieBreak = Seq("o_orderkey"))
        .select($"event_id", $"o_orderkey")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(merged == reference,
        s"seed=$seed: merged form diverged (only-merged=${(merged -- reference).take(3)}, " +
          s"only-ref=${(reference -- merged).take(3)})")
    }
  }

  test("asofMergedBucketed == asofMerged, and a hot key spreads over >1 window partition") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // ONE power key holding every row — the shape that serializes
    // asofMerged into a single task — spanning 50 hours so hourly
    // bucketing must split it, with right rows sparse (some buckets hold
    // none: the carry must cross empty-right buckets correctly)
    def ts(min: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min.toLong))
    val rnd = new scala.util.Random(11)
    val orders = (0 until 200).map { i =>
      (i.toLong, 7L, ts(rnd.nextInt(3000)))
    }.toDF("o_orderkey", "o_custkey", "o_orderdate")
    val events = (0 until 5000).map { i =>
      (7L, ts(rnd.nextInt(3000)), i.toLong)
    }.toDF("user_id", "ts", "event_id")

    val plain = graft.queries.Relational.asofMerged(
        events, "user_id", "ts", orders, "o_custkey", "o_orderdate",
        rightTieBreak = Seq("o_orderkey"))
      .select($"event_id", $"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = graft.queries.Relational.asofMergedBucketed(
        events, "user_id", "ts", orders, "o_custkey", "o_orderdate",
        rightTieBreak = Seq("o_orderkey"), bucketInterval = "1 hour")
    val got = bucketed.select($"event_id", $"o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == plain,
      s"bucketed diverged (only-bucketed=${(got -- plain).take(3)}, " +
        s"only-plain=${(plain -- got).take(3)})")
    // the hot key's rows really occupy many (key, bucket) partitions …
    val nBuckets = events.select(window($"ts", "1 hour").getField("start"))
      .distinct().count()
    assert(nBuckets > 10, s"fixture spans only $nBuckets buckets")
    // … and the main window physically partitions by BOTH key and bucket
    // (the hot key = nBuckets parallel tasks, not one)
    val planStr = bucketed.queryExecution.executedPlan.toString
    assert(planStr.contains("windowspecdefinition(__k#") ||
      planStr.contains("partitionspec"), "expected a Window in the plan")
    assert("windowspecdefinition\\(__k#\\d+L?, __b#\\d+".r
        .findFirstIn(planStr).isDefined,
      "inner as-of window must partition by (__k, __b)")
  }

  test("asofMerged rejects reserved and overlapping column names") {
    import spark.implicits._
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("k", "t", "payload")
    val r = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5L))
      .toDF("k2", "t2", "tb")
    // reserved internal name on either side
    val badL = l.withColumnRenamed("payload", "__kind")
    val e1 = intercept[IllegalArgumentException] {
      graft.queries.Relational.asofMerged(badL, "k", "t", r, "k2", "t2", Seq("tb"))
    }
    assert(e1.getMessage.contains("__kind"))
    // shared left/right name would flatten into duplicate output columns
    val badR = r.withColumnRenamed("tb", "payload")
    val e2 = intercept[IllegalArgumentException] {
      graft.queries.Relational.asofMerged(l, "k", "t", badR, "k2", "t2", Seq("payload"))
    }
    assert(e2.getMessage.contains("payload"))
  }

  test("q01 aggregate values are sane") {
    val row = SparkEntry.queries("q01_agg")(spark, sf)
      .filter("l_returnflag = 'A'").collect()
    assert(row.nonEmpty)
    assert(row.head.getAs[Double]("sum_qty") > 0.0)
  }

  test("intervalOverlapJoin: hand fixture equals brute-force theta join") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    // intervals spanning multiple day buckets (dedup path), touching
    // endpoints (closed-interval semantics), and disjoint pairs
    val l = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-03 00:00:00"), "a"),
      (1L, ts("2024-01-10 00:00:00"), ts("2024-01-10 06:00:00"), "b"),
      (2L, ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), "c"))
      .toDF("k", "ls", "le", "lp")
    val r = Seq(
      (1L, ts("2024-01-02 12:00:00"), ts("2024-01-05 00:00:00"), "X"), // overlaps a
      (1L, ts("2024-01-10 06:00:00"), ts("2024-01-11 00:00:00"), "Y"), // touches b
      (1L, ts("2024-01-20 00:00:00"), ts("2024-01-21 00:00:00"), "Z"), // disjoint
      (2L, ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"), "W")) // inside c
      .toDF("k2", "rs", "re", "rp")
    val got = graft.queries.Relational.intervalOverlapJoin(
        l, "k", "ls", "le", r, "k2", "rs", "re")
      .select("lp", "rp").collect().map(x => (x.getString(0), x.getString(1))).toSet
    val brute = l.join(r, $"k" === $"k2" && $"ls" <= $"re" && $"rs" <= $"le")
      .select("lp", "rp").collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(got == Set(("a", "X"), ("b", "Y"), ("c", "W")), got.toString)
    assert(got == brute)
    // disjoint-name guard fires loudly
    val err = intercept[IllegalArgumentException] {
      graft.queries.Relational.intervalOverlapJoin(
        l, "k", "ls", "le", r.withColumnRenamed("rp", "lp"), "k2", "rs", "re")
    }
    assert(err.getMessage.contains("lp"))
    // theta-join multiplicity: duplicating an input row must duplicate its
    // output pairs (dedup collapses multi-BUCKET matches only, via
    // synthetic row ids — not genuinely duplicate input rows)
    val got2 = graft.queries.Relational.intervalOverlapJoin(
        l.union(l.filter($"lp" === "a")), "k", "ls", "le", r, "k2", "rs", "re")
      .select("lp", "rp").collect().map(x => (x.getString(0), x.getString(1)))
    assert(got2.count(_ == ("a", "X")) == 2,
      s"duplicate left row must yield two (a,X) pairs: ${got2.toSeq}")
    assert(got2.length == 4, got2.toSeq.toString)
  }

  test("resampleFfill: hand fixture — grid bounds, forward fill, dup-ts collapse") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 06:00:00"), 10.0),
      (1L, ts("2024-01-03 12:00:00"), 30.0),
      (1L, ts("2024-01-03 12:00:00"), 25.0), // dup ts → max collapses to 30.0
      (2L, ts("2024-02-10 00:00:00"), 7.0))
      .toDF("k", "t", "v")
    val out = graft.queries.Relational.resampleFfill(ev, "k", "t", "v")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDouble(2)))
      .toSet
    val expect = Set(
      // key 1: grid 01-01 00:00 .. 01-03 12:00 daily; 01-01 00:00 precedes
      // the first obs → dropped (inner as-of)
      (1L, "2024-01-02 00:00:00.0", 10.0),
      (1L, "2024-01-03 00:00:00.0", 10.0),
      // key 2: single obs exactly on its trunc'd grid start
      (2L, "2024-02-10 00:00:00.0", 7.0))
    assert(out == expect, s"got $out")
  }
}
