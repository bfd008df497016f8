package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Cross-JVM publish race probe (driven by `tools/race_probe.sh`).
  *
  * The in-JVM ConnectorSpec cannot exercise the cross-driver publish race:
  * `RipplePublish.publish` is synchronized per JVM, so contention for a
  * bucket's offsets only occurs between separate driver processes — the
  * reference resolves it with ZooKeeper leader election
  * (`internal/lighthouse/election/election.go:50-79`); we resolve it with
  * the bucket's sequenced commit log (exactly one driver wins each
  * put-if-absent version; the other re-reads and retries), the
  * per-bucket lock (`withBucketLock`) throttling contention, and the
  * committed range's frame-identity compare as the replay backstop.
  *
  * Modes:
  *   `write <root> <topic> <n> <tag>` — append n single-partition rows
  *   `check <root> <topic> <expected>` — assert count + per-bucket density
  */
object RaceProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"race-probe-${args.mkString("-").take(40)}")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // object-store mode (`tools/race_probe.sh ostest`): roots under the
      // ostest: scheme run the commit log's conditional-PUT arm against the
      // S3-semantics rig (graft.ObjectStoreTestFs, on the test classpath);
      // inert for plain local roots
      .config("spark.hadoop.fs.ostest.impl", "graft.ObjectStoreTestFs")
      .config("spark.hadoop.graft.log.nonAtomicRenameSchemes",
        "s3,s3a,s3n,gs,oss,cos,swift,wasb,wasbs,abfs,abfss,ostest")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    args match {
      case Array("write", root, topic, n, tag) =>
        val df = (0 until n.toInt)
          .map(i => (tag.toInt * 1000000 + i, s"w$tag-$i".getBytes("UTF-8")))
          .toDF("id", "data").coalesce(1)
        graft.api.Ripple.write(df, root, topic, numBuckets = 2)
        println(s"[probe] writer $tag done")
      case Array("check", root, topic, expected) =>
        val back = graft.api.Ripple.read(spark, root, topic)
        val n = back.count()
        require(n == expected.toLong, s"count $n != $expected (lost or duplicated rows)")
        val per = back.groupBy("bucket")
          .agg(count(lit(1)).as("n"), countDistinct("offset").as("d"), max("offset").as("m"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        per.foreach { case (b, cnt, dist, mx) =>
          require(cnt == dist && mx == cnt - 1,
            s"bucket $b not dense: n=$cnt distinct=$dist max=$mx")
        }
        println(s"[probe] check OK: $n rows, ${per.length} buckets dense")
      case other =>
        sys.error(s"usage: write <root> <topic> <n> <tag> | check <root> <topic> <expected>; got ${other.mkString(" ")}")
    }
    spark.stop()
  }
}
