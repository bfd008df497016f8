package graft

import graft.api.Ripple
import graft.log.{FileTopicLog, LogFs}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

/** SQL admin surface for the topic log — a 100 TB operator lives in SQL
  * consoles, not Scala REPLs, so the Scala discovery surface
  * ([[graft.api.Ripple.topics]]/[[graft.api.Ripple.describeTopic]]/
  * [[graft.api.Ripple.consumerStatus]]/[[graft.api.Ripple.snapshots]])
  * is also reachable as statements (the `kafka-topics --describe` /
  * `SHOW TABLES` analog; the reference exposes discovery only as gRPC
  * lookups, `internal/lighthouse/io/io.go:55-156`):
  *
  * {{{
  *   SHOW TOPICS [IN '<root>']
  *   DESCRIBE TOPIC <name> [IN '<root>']
  *   SHOW CONSUMERS FOR <name> [IN '<root>']
  *   SHOW SNAPSHOTS FOR <name> [IN '<root>']
  *   SHOW SCHEMA VERSIONS FOR <name> [IN '<root>']
  *   SHOW TRANSACTIONS FOR <name> [IN '<root>']                    -- round 18
  * }}}
  *
  * and (round 16) the ADMIN WRITE statements — the operator who lives in
  * a SQL console can now act, not just look (`kafka-topics --create` /
  * `--alter` parity, backed by [[graft.api.Ripple.createTopic]] /
  * [[graft.api.Ripple.setTopicConfig]]):
  *
  * {{{
  *   CREATE TOPIC <name> [(numBuckets = 8)] [IN '<root>']
  *   ALTER TOPIC <name> SET (retentionMs = 86400000, compression = 'zstd', …)
  *   ALTER TOPIC <name> UNSET (retentionMs, …)
  *   DROP TOPIC <name> [FORCE] [IN '<root>']
  * }}}
  *
  * plus (round 17) the LIFECYCLE verbs — the nightly jobs, runnable from
  * the console ([[graft.api.Ripple.truncateOlderThan]] et al.,
  * [[graft.api.Ripple.compactSegments]]/[[graft.api.Ripple.compactKeyed]],
  * [[graft.api.Ripple.resetConsumer]], [[graft.api.Ripple.pinSnapshot]]):
  *
  * {{{
  *   ALTER TOPIC <name> TRUNCATE (olderThanMs = N | toBytes = N | beforeOffset = N)
  *   COMPACT TOPIC <name> [KEYED] [IN '<root>']
  *   RESET CONSUMER <id> ON <name> TO (EARLIEST | LATEST | TIMESTAMP <ms>)
  *   DROP CONSUMER <id> ON <name> [IN '<root>']
  *   PIN SNAPSHOT <pin> ON <name> [(ttlMs = N)] [IN '<root>']
  *   DROP SNAPSHOT <pin> ON <name> [IN '<root>']
  *   VACUUM SNAPSHOTS ON <name> [(graceMs = N)] [IN '<root>']       -- round 18
  *   EXPIRE CONSUMERS ON <name> (olderThanMs = N) [IN '<root>']     -- round 18
  *   ABORT TRANSACTIONS ON <name> (olderThanMs = N) [IN '<root>']   -- round 18
  *   VACUUM TRANSACTIONS ON <name> [(graceMs = N)] [IN '<root>']    -- round 18
  * }}}
  *
  * and (round 18) the READ statements — the console reads data, not just
  * metadata. `READ TOPIC t` is the envelope scan
  * ([[graft.api.Ripple.read]]); `READ TOPIC t AS TABLE` is the
  * latest-per-key table view ([[graft.api.Ripple.readTable]] — KTable
  * parity: one row per key, deleted keys absent). Both return the
  * DISTRIBUTED scan/aggregation plan itself, never a driver-side
  * collect — `spark.sql("READ TOPIC t AS TABLE")` composes like any
  * DataFrame:
  *
  * {{{
  *   READ TOPIC <name> [COMMITTED] [WITH HEADERS] [AS TABLE] [IN '<root>']
  * }}}
  *
  * `COMMITTED` (round 18) reads under read-committed isolation (connector
  * option `readCommitted` — in-flight transactional epochs capped, aborted
  * ranges subtracted; [[graft.connector.TxnMarkers]]) and composes with
  * either shape: it narrows WHICH records the scan underneath delivers.
  *
  * `WITH HEADERS` (round 18) appends the record-headers column
  * (`headers ARRAY<STRUCT<key STRING, value BINARY>>`, KIP-82 parity —
  * [[graft.api.Ripple.readWithHeaders]]). Since round 19 it composes
  * with `AS TABLE` too: the view's `max_by` keeps the WINNING record's
  * headers, so each surviving key carries the headers its latest record
  * was produced with.
  *
  * `ALTER … SET` is a read-modify-write MERGE over the persisted
  * [[graft.connector.TopicConfig]] (unnamed keys keep their values);
  * `UNSET` removes keys (an empty result deletes the document). Valid
  * keys: `retentionMs`, `retentionBytes`, `autoCompactSegments`,
  * `compactDistributeMinBytes`, `compression`, `cleanupPolicy`,
  * `compactionKeyHeap`, `tombstoneRetentionMs` — unknown
  * keys and invalid values are loud, never ignored (a typo'd retention
  * knob silently dropped is how data outlives its policy).
  *
  * `IN '<root>'` names the log root URI; omitted, it falls back to the
  * session conf `spark.graft.root` (loud when neither is set). Injected by
  * [[GraftExtensions]] via `injectParser` — the standard wrapper-parser
  * packaging (Delta's DeltaSqlParser pattern): these shapes are
  * intercepted, everything else delegates verbatim to the session's
  * parser.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case ShowTopicsStmt(root)          => ShowTopicsCommand(Option(root))
    case DescribeTopicStmt(name, root)
        if !shadowsCatalogDescribe(name, Option(root)) =>
      DescribeTopicCommand(name, Option(root))
    case ShowConsumersStmt(name, root) => ShowConsumersCommand(name, Option(root))
    case ShowSnapshotsStmt(name, root) => ShowSnapshotsCommand(name, Option(root))
    case ShowTransactionsStmt(name, root) =>
      ShowTransactionsCommand(name, Option(root))
    case ShowSchemaVersionsStmt(name, root) =>
      ShowSchemaVersionsCommand(name, Option(root))
    case CreateTopicStmt(name, opts, root) =>
      CreateTopicCommand(name, Option(opts), Option(root))
    case AlterTopicSetStmt(name, kvs, root) =>
      AlterTopicCommand(name, kvs, unset = false, Option(root))
    case AlterTopicUnsetStmt(name, keys, root) =>
      AlterTopicCommand(name, keys, unset = true, Option(root))
    case AlterTopicTruncateStmt(name, kvs, root) =>
      TruncateTopicCommand(name, kvs, Option(root))
    case CompactTopicStmt(name, keyed, root) =>
      CompactTopicCommand(name, keyed != null, Option(root))
    case ResetConsumerStmt(consumer, name, target, root) =>
      ResetConsumerCommand(consumer, name, target.trim, Option(root))
    case DropConsumerStmt(consumer, name, root) =>
      DropConsumerCommand(consumer, name, Option(root))
    case PinSnapshotStmt(name, topic, opts, root) =>
      PinSnapshotCommand(name, topic, Option(opts), Option(root))
    case DropSnapshotStmt(name, topic, root) =>
      DropSnapshotCommand(name, topic, Option(root))
    case VacuumSnapshotsStmt(name, opts, root) =>
      VacuumSnapshotsCommand(name, Option(opts), Option(root))
    case ExpireConsumersStmt(name, kvs, root) =>
      ExpireConsumersCommand(name, kvs, Option(root))
    case DropTopicStmt(name, force, root) =>
      DropTopicCommand(name, force != null, Option(root))
    case AbortTransactionsStmt(name, kvs, root) =>
      AbortTransactionsCommand(name, kvs, Option(root))
    case VacuumTransactionsStmt(name, opts, root) =>
      VacuumTransactionsCommand(name, Option(opts), Option(root))
    case ReadTopicStmt(name, committed, withHeaders, asTable, root) =>
      // returns the composed DISTRIBUTED plan (scan, or scan + the
      // latest-per-key aggregation), not a RunnableCommand — a command
      // would collect a 100 TB topic to the driver
      val spark = SparkSession.active
      val r = resolveRoot(Option(root), spark)
      // WITH HEADERS composes with AS TABLE (round 19): the view keeps
      // the winning record's headers in its max_by struct — each key's
      // row carries the headers its latest record was produced with.
      // COMMITTED (read-committed isolation) composes with either shape:
      // it narrows WHICH records the scan underneath delivers
      var reader = spark.read.format("ripple")
        .option("path", r).option("topic", name)
      if (committed != null) reader = reader.option("readCommitted", "true")
      if (withHeaders != null) reader = reader.option("includeHeaders", "true")
      val scan = reader.load()
      (if (asTable != null) Ripple.tableView(scan) else scan)
        .queryExecution.logical
    case _                             => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // `(?is)`: case-insensitive, dot-all. Topic names use the createTopic
  // alphabet ([A-Za-z0-9._-]+, optional backticks); the root is a quoted
  // URI. A non-matching statement falls through to the delegate, so e.g.
  // `DESCRIBE topic` (a TABLE named "topic") still reaches Spark.
  private val ShowTopicsStmt =
    """(?is)\s*SHOW\s+TOPICS(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val DescribeTopicStmt =
    """(?is)\s*DESC(?:RIBE)?\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val ShowConsumersStmt =
    """(?is)\s*SHOW\s+CONSUMERS\s+FOR\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val ShowSnapshotsStmt =
    """(?is)\s*SHOW\s+SNAPSHOTS\s+FOR\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val ShowTransactionsStmt =
    """(?is)\s*SHOW\s+TRANSACTIONS\s+FOR\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val ShowSchemaVersionsStmt =
    """(?is)\s*SHOW\s+SCHEMA\s+VERSIONS\s+FOR\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  // Admin WRITE statements. No reserved-word hazard like DESCRIBE's:
  // Spark SQL has no `CREATE TOPIC` / `ALTER TOPIC` production (ALTER on
  // a table named "topic" is spelled `ALTER TABLE topic …`), so a full
  // match is unambiguous.
  private val CreateTopicStmt =
    """(?is)\s*CREATE\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?(?:\s*\(([^)]*)\))?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val AlterTopicSetStmt =
    """(?is)\s*ALTER\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?\s+SET\s*\(([^)]*)\)(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val AlterTopicUnsetStmt =
    """(?is)\s*ALTER\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?\s+UNSET\s*\(([^)]*)\)(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val DropTopicStmt =
    """(?is)\s*DROP\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?(\s+FORCE)?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  // Lifecycle verbs (round 17): the nightly jobs, runnable from a SQL
  // console. No reserved-word hazards — Spark's TRUNCATE production is
  // `TRUNCATE TABLE`, RESET takes a bare conf key (never `ON`), and
  // COMPACT/PIN have no Spark production; non-matching shapes delegate.
  private val AlterTopicTruncateStmt =
    """(?is)\s*ALTER\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?\s+TRUNCATE\s*\(([^)]*)\)(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val CompactTopicStmt =
    """(?is)\s*COMPACT\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?(\s+KEYED)?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val ResetConsumerStmt =
    """(?is)\s*RESET\s+CONSUMER\s+`?([A-Za-z0-9._-]+)`?\s+ON\s+`?([A-Za-z0-9._-]+)`?\s+TO\s+(EARLIEST|LATEST|TIMESTAMP\s+\d+)(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val DropConsumerStmt =
    """(?is)\s*DROP\s+CONSUMER\s+`?([A-Za-z0-9._-]+)`?\s+ON\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val PinSnapshotStmt =
    """(?is)\s*PIN\s+SNAPSHOT\s+`?([A-Za-z0-9._-]+)`?\s+ON\s+`?([A-Za-z0-9._-]+)`?(?:\s*\(([^)]*)\))?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val DropSnapshotStmt =
    """(?is)\s*DROP\s+SNAPSHOT\s+`?([A-Za-z0-9._-]+)`?\s+ON\s+`?([A-Za-z0-9._-]+)`?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  // Weekly-cron hygiene verbs. No reserved-word hazard: core Spark has
  // no VACUUM production (Delta's is `VACUUM <table>`, never `VACUUM
  // SNAPSHOTS ON`) and no EXPIRE at all.
  private val VacuumSnapshotsStmt =
    """(?is)\s*VACUUM\s+SNAPSHOTS\s+ON\s+`?([A-Za-z0-9._-]+)`?(?:\s*\(([^)]*)\))?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val ExpireConsumersStmt =
    """(?is)\s*EXPIRE\s+CONSUMERS\s+ON\s+`?([A-Za-z0-9._-]+)`?\s*\(([^)]*)\)(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  // Transaction admin verbs (round 18): resolve or collect the
  // cross-topic transaction markers TxnMarkers maintains. No
  // reserved-word hazard: Spark SQL has no statement-initial ABORT
  // production, and VACUUM TRANSACTIONS ON collides with nothing
  // (Delta's VACUUM takes a bare table name).
  private val AbortTransactionsStmt =
    """(?is)\s*ABORT\s+TRANSACTIONS\s+ON\s+`?([A-Za-z0-9._-]+)`?\s*\(([^)]*)\)(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  private val VacuumTransactionsStmt =
    """(?is)\s*VACUUM\s+TRANSACTIONS\s+ON\s+`?([A-Za-z0-9._-]+)`?(?:\s*\(([^)]*)\))?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r
  // Data READ statements. No reserved-word hazard: Spark SQL has no
  // statement-initial READ production.
  private val ReadTopicStmt =
    """(?is)\s*READ\s+TOPIC\s+`?([A-Za-z0-9._-]+)`?(\s+COMMITTED)?(\s+WITH\s+HEADERS)?(\s+AS\s+TABLE)?(?:\s+IN\s+'([^']+)')?\s*;?\s*""".r

  /** Explicit `IN '<root>'` wins; else the session conf. Loud otherwise —
    * guessing a filesystem root is how admin commands hit the wrong
    * deployment.
    */
  private[graft] def resolveRoot(explicit: Option[String],
      spark: SparkSession): String =
    explicit.orElse(spark.conf.getOption("spark.graft.root")).getOrElse(
      throw new IllegalArgumentException(
        "ripple: no log root — append IN '<root>' to the statement or set " +
          "spark.graft.root on the session"))

  private[graft] def attr(name: String, dt: DataType, nullable: Boolean = false) =
    AttributeReference(name, dt, nullable)()

  /** Reserved-word collision guard (round-15 verdict #1): `DESCRIBE topic
    * <col>` — a user describing column `<col>` of a real table literally
    * named `topic` — full-matches [[DescribeTopicStmt]] with `<col>`
    * captured as the "topic name". Intercepting it breaks valid Spark SQL,
    * so the statement DELEGATES when the session catalog has a table or
    * view named `topic` and no ripple topic `<name>` exists under the
    * resolvable root. When both exist, the topic command wins (disambiguate
    * the column form with a qualified table name, e.g. `DESCRIBE
    * db.topic <col>`). Bare `DESCRIBE topic` never matched (no name
    * follows) and keeps reaching Spark untouched.
    */
  private[graft] def shadowsCatalogDescribe(name: String,
      explicitRoot: Option[String]): Boolean =
    SparkSession.getActiveSession.exists { s =>
      val tableNamedTopic =
        try s.catalog.tableExists("topic")
        catch { case scala.util.control.NonFatal(_) => false }
      tableNamedTopic && {
        val topicExists =
          try Ripple.topics(resolveRoot(explicitRoot, s)).contains(name)
          catch { case scala.util.control.NonFatal(_) => false }
        !topicExists
      }
    }
}

/** `SHOW TOPICS [IN '<root>']` — one row per topic under the root. */
case class ShowTopicsCommand(root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(attr("topic", StringType))
  override def run(spark: SparkSession): Seq[Row] =
    Ripple.topics(resolveRoot(root, spark)).map(Row(_))
}

/** `DESCRIBE TOPIC t [IN '<root>']` — one row per bucket, topic-level
  * fields (schema, consumers) repeated; the SQL rendering of
  * [[graft.api.Ripple.describeTopic]].
  */
case class DescribeTopicCommand(topic: String, root: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("bucket", StringType),
    attr("floor", LongType), attr("end_offset", LongType),
    attr("rows", LongType), attr("segments", IntegerType),
    attr("bytes", LongType), attr("latest_ts", LongType, nullable = true),
    attr("schema", StringType, nullable = true),
    attr("schema_version", IntegerType, nullable = true),
    attr("consumers", StringType),
    attr("config", StringType),
    attr("views", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val d = Ripple.describeTopic(resolveRoot(root, spark), topic)
    val consumers = d.consumers.mkString(",")
    val config = d.config.render
    // the read spellings this topic answers to: the raw envelope scan,
    // the latest-per-key table view, the record-headers projection, and
    // read-committed isolation
    // (READ TOPIC t [COMMITTED] [AS TABLE | WITH HEADERS])
    val views = "envelope,table,headers,committed"
    d.buckets.toSeq.sortBy(_._1).map { case (b, st) =>
      Row(d.topic, b, st.floor, st.end, st.rows, st.segments, st.bytes,
        st.latestTs.map(Long.box).orNull,
        d.schema.orNull, d.schemaVersion.map(Int.box).orNull, consumers,
        config, views)
    }
  }
}

/** `SHOW CONSUMERS FOR t [IN '<root>']` — one row per (consumer, bucket):
  * committed cursor, end, floor, lag, rows lost to retention, time lag,
  * and `idle_ms` (now − last observable commit activity) — the number an
  * operator reads before [[graft.api.Ripple.expireConsumers]]: see the
  * idle cursor, then expire it.
  */
case class ShowConsumersCommand(topic: String, root: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("consumer", StringType), attr("bucket", StringType),
    attr("committed", LongType), attr("end_offset", LongType),
    attr("floor", LongType), attr("lag", LongType),
    attr("lost_to_retention", LongType),
    attr("time_lag_ms", LongType, nullable = true),
    attr("idle_ms", LongType, nullable = true))
  override def run(spark: SparkSession): Seq[Row] = {
    val now = System.currentTimeMillis()
    val r = resolveRoot(root, spark)
    Ripple.consumerStatus(r, topic).toSeq
      .sortBy(_._1).flatMap { case (id, byBucket) =>
        val idle = graft.connector.ConsumerOffsets.lastActivityMs(r, topic, id)
          .map(at => math.max(0L, now - at))
        byBucket.toSeq.sortBy(_._1).map { case (b, p) =>
          Row(id, b, p.committed, p.end, p.floor, p.lag, p.lostToRetention,
            p.timeLagMs(now).map(Long.box).orNull,
            idle.map(Long.box).orNull)
        }
      }
  }
}

/** `SHOW SCHEMA VERSIONS FOR t [IN '<root>']` — the registered payload
  * schema history ([[graft.api.Ripple.topicSchemaVersions]]): one row per
  * accepted registration/evolution, current version flagged. Empty when
  * the topic has no registered schema (raw byte payloads).
  */
case class ShowSchemaVersionsCommand(topic: String, root: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("version", IntegerType), attr("current", BooleanType),
    attr("schema", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val versions = Ripple.topicSchemaVersions(resolveRoot(root, spark), topic)
    val cur = if (versions.isEmpty) -1 else versions.keys.max
    versions.toSeq.sortBy(_._1).map { case (v, schema) =>
      Row(v, v == cur, schema.json)
    }
  }
}

/** `SHOW SNAPSHOTS FOR t [IN '<root>']` — registered snapshot pins
  * ([[graft.api.Ripple.pinSnapshot]]), live and expired.
  */
case class ShowSnapshotsCommand(topic: String, root: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("name", StringType), attr("created_at", LongType),
    attr("expires_at", LongType, nullable = true), attr("live", BooleanType),
    attr("token", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = resolveRoot(root, spark)
    val log = FileTopicLog.cached(r, LogFs.activeHadoopConf)
    val now = System.currentTimeMillis()
    graft.connector.SnapshotPins.list(log, topic).map { p =>
      Row(p.name, p.createdAt, p.expiresAt.map(Long.box).orNull,
        p.live(now), p.token)
    }
  }
}

/** `SHOW TRANSACTIONS FOR t [IN '<root>']` — the transaction-marker plane
  * an operator reads before [[graft.api.Ripple.abortStaleTxns]] /
  * `ABORT TRANSACTIONS` (is anything in flight? how old?) and before
  * `VACUUM TRANSACTIONS` (what is still being hidden?). One row per
  * marker: `state` is `pending` (in-flight — its floors cap
  * `readCommitted` reads) or `aborted` (fence — its ranges are
  * subtracted); `ranges` renders `bucket:[start,end)` comma-joined, with
  * a pre-assignment pending's floor form as `bucket:[floor,?)`; `age_ms`
  * is wall-clock minus the marker's mtime, the number `ABORT
  * TRANSACTIONS (olderThanMs = N)` thresholds against. Empty = no
  * transactional writer in flight and nothing aborted-and-retained.
  */
case class ShowTransactionsCommand(topic: String, root: Option[String])
    extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("query", StringType), attr("epoch", LongType),
    attr("state", StringType), attr("ranges", StringType),
    attr("age_ms", LongType), attr("participants", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = resolveRoot(root, spark)
    val log = FileTopicLog.cached(r, LogFs.activeHadoopConf)
    val now = System.currentTimeMillis()
    def render(m: graft.connector.TxnMarkers.Marker): String =
      m.ranges.toSeq.sortBy(_._1).map {
        case (b, (s, c)) if c > 0 => s"$b:[$s,${s + c})"
        case (b, (f, _))          => s"$b:[$f,?)"
      }.mkString(",")
    def parts(m: graft.connector.TxnMarkers.Marker): String =
      (if (m.participants.nonEmpty) m.participants else Seq(topic))
        .sorted.mkString(",")
    val pend = graft.connector.TxnMarkers.listPending(log, topic)
      .map(m => (m.qdir, m.epoch, "pending", render(m), now - m.mtimeMs, parts(m)))
    val abrt = graft.connector.TxnMarkers.listAborted(log, topic)
      .map(m => (m.qdir, m.epoch, "aborted", render(m), now - m.mtimeMs, parts(m)))
    (pend ++ abrt).sortBy(t => (t._3, t._1, t._2))
      .map { case (q, e, st, rg, age, ps) => Row(q, e, st, rg, age, ps) }
  }
}

/** `CREATE TOPIC t [(numBuckets = 8)] [IN '<root>']` — registers the topic
  * and its buckets ([[graft.api.Ripple.createTopic]]; idempotent exactly
  * as the Scala call is). Returns (topic, buckets).
  */
case class CreateTopicCommand(topic: String, opts: Option[String],
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("buckets", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val kvs = AdminKvs.parse(opts.getOrElse(""))
    val unknown = kvs.keySet -- Set("numbuckets", "buckets")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: CREATE TOPIC supports (numBuckets = N), got " +
        s"'${unknown.mkString(", ")}' — topic policy keys go through " +
        "ALTER TOPIC ... SET")
    val n = kvs.get("numbuckets").orElse(kvs.get("buckets"))
      .map(AdminKvs.intOf("numBuckets", _)).getOrElse(4)
    val r = resolveRoot(root, spark)
    Ripple.createTopic(r, topic, n)
    Seq(Row(topic, Ripple.buckets(r, topic).size))
  }
}

/** `ALTER TOPIC t SET (k = v, …)` / `ALTER TOPIC t UNSET (k, …)` — merge
  * or remove keys of the persisted per-topic config
  * ([[graft.connector.TopicConfig]]); the SQL rendering of
  * [[graft.api.Ripple.setTopicConfig]]. SET keeps unnamed keys (the
  * operator alters one knob without re-stating the rest); UNSET of every
  * key deletes the document. Returns the resulting config, rendered.
  */
case class AlterTopicCommand(topic: String, kvText: String, unset: Boolean,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("config", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = resolveRoot(root, spark)
    val cur = Ripple.topicConfig(r, topic)
    val next =
      if (unset) {
        val keys = kvText.split(',').map(_.trim.toLowerCase(java.util.Locale.ROOT))
          .filter(_.nonEmpty).toSet
        val unknown = keys -- AdminKvs.ConfigKeys
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"ripple: unknown topic config key(s) '${unknown.mkString(", ")}'" +
            s" — valid: ${AdminKvs.ConfigKeys.toSeq.sorted.mkString(", ")}")
        graft.connector.TopicConfig(
          retentionMs = if (keys("retentionms")) None else cur.retentionMs,
          retentionBytes = if (keys("retentionbytes")) None else cur.retentionBytes,
          autoCompactSegments =
            if (keys("autocompactsegments")) None else cur.autoCompactSegments,
          compactDistributeMinBytes =
            if (keys("compactdistributeminbytes")) None
            else cur.compactDistributeMinBytes,
          compression = if (keys("compression")) None else cur.compression,
          cleanupPolicy =
            if (keys("cleanuppolicy")) None else cur.cleanupPolicy,
          compactionKeyHeap =
            if (keys("compactionkeyheap")) None else cur.compactionKeyHeap,
          tombstoneRetentionMs =
            if (keys("tombstoneretentionms")) None else cur.tombstoneRetentionMs)
      } else {
        val kvs = AdminKvs.parse(kvText)
        if (kvs.isEmpty) throw new IllegalArgumentException(
          "ripple: ALTER TOPIC ... SET needs at least one key = value pair")
        val unknown = kvs.keySet -- AdminKvs.ConfigKeys
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"ripple: unknown topic config key(s) '${unknown.mkString(", ")}'" +
            s" — valid: ${AdminKvs.ConfigKeys.toSeq.sorted.mkString(", ")}")
        graft.connector.TopicConfig(
          retentionMs = kvs.get("retentionms")
            .map(AdminKvs.longOf("retentionMs", _)).orElse(cur.retentionMs),
          retentionBytes = kvs.get("retentionbytes")
            .map(AdminKvs.longOf("retentionBytes", _)).orElse(cur.retentionBytes),
          autoCompactSegments = kvs.get("autocompactsegments")
            .map(AdminKvs.intOf("autoCompactSegments", _))
            .orElse(cur.autoCompactSegments),
          compactDistributeMinBytes = kvs.get("compactdistributeminbytes")
            .map(AdminKvs.longOf("compactDistributeMinBytes", _))
            .orElse(cur.compactDistributeMinBytes),
          compression = kvs.get("compression").orElse(cur.compression),
          cleanupPolicy = kvs.get("cleanuppolicy").orElse(cur.cleanupPolicy),
          compactionKeyHeap = kvs.get("compactionkeyheap")
            .map(AdminKvs.intOf("compactionKeyHeap", _))
            .orElse(cur.compactionKeyHeap),
          tombstoneRetentionMs = kvs.get("tombstoneretentionms")
            .map(AdminKvs.longOf("tombstoneRetentionMs", _))
            .orElse(cur.tombstoneRetentionMs))
      }
    Ripple.setTopicConfig(r, topic, next)
    Seq(Row(topic, next.render))
  }
}

/** `key = value` list parsing shared by the admin write statements.
  * Values: integers, or strings quoted with '…' (quotes optional for bare
  * words like codec names). Keys are case-insensitive.
  */
private[graft] object AdminKvs {
  val ConfigKeys: Set[String] = Set("retentionms", "retentionbytes",
    "autocompactsegments", "compactdistributeminbytes", "compression",
    "cleanuppolicy", "compactionkeyheap", "tombstoneretentionms")

  /** Split the option list on commas OUTSIDE single quotes — a quoted
    * string value may legally contain ',' or '=' (today's keys are all
    * integer/enum valued, but the DDL surface must not break the day a
    * string-valued config key lands).
    */
  private def splitTop(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    text.foreach {
      case '\'' => inQuote = !inQuote; cur += '\''
      case ',' if !inQuote => out += cur.result(); cur.clear()
      case c => cur += c
    }
    if (inQuote) throw new IllegalArgumentException(
      s"ripple: unterminated quote in option list '$text'")
    out += cur.result()
    out.result()
  }

  def parse(text: String): Map[String, String] =
    splitTop(text).map(_.trim).filter(_.nonEmpty).map { pair =>
      pair.split("=", 2) match { // first '=' only: quoted values may hold '='
        case Array(k, v) =>
          val key = k.trim.toLowerCase(java.util.Locale.ROOT)
          val raw = v.trim
          val value =
            if (raw.length >= 2 && raw.startsWith("'") && raw.endsWith("'"))
              raw.substring(1, raw.length - 1)
            else raw
          if (key.isEmpty || value.isEmpty) throw new IllegalArgumentException(
            s"ripple: malformed key = value pair '$pair'")
          key -> value
        case _ => throw new IllegalArgumentException(
          s"ripple: malformed key = value pair '$pair'")
      }
    }.toMap

  def longOf(key: String, v: String): Long =
    try v.toLong catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"ripple: $key needs an integer value, got '$v'") }

  def intOf(key: String, v: String): Int = {
    val l = longOf(key, v)
    if (l < Int.MinValue || l > Int.MaxValue) throw new IllegalArgumentException(
      s"ripple: $key out of int range: $l")
    l.toInt
  }
}

/** `DROP TOPIC t [FORCE] [IN '<root>']` — deletes the topic
  * ([[graft.api.Ripple.deleteTopic]]): REFUSED by default while
  * registered consumers or live snapshot pins exist (their loud
  * refusals surface verbatim); `FORCE` is the stated override, exactly
  * the Scala call's `force = true`. Returns (topic, dropped).
  */
case class DropTopicCommand(topic: String, force: Boolean,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("dropped", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    Ripple.deleteTopic(resolveRoot(root, spark), topic, force = force)
    Seq(Row(topic, true))
  }
}

/** `ALTER TOPIC t TRUNCATE (olderThanMs = N | toBytes = N |
  * beforeOffset = N) [IN '<root>']` — run retention NOW, through the same
  * Scala calls the nightly job uses ([[graft.api.Ripple.truncateOlderThan]]
  * / [[graft.api.Ripple.truncateToBytes]] /
  * [[graft.api.Ripple.truncateBefore]]): whole segments only, offsets
  * preserved, live snapshot pins clamp the cut (their loud refusals
  * surface verbatim). Exactly ONE policy key per statement — two horizons
  * in one command have no defensible order. Returns (topic, policy,
  * segmentsDeleted).
  */
case class TruncateTopicCommand(topic: String, kvText: String,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("policy", StringType),
    attr("segments_deleted", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = resolveRoot(root, spark)
    val kvs = AdminKvs.parse(kvText)
    val known = Set("olderthanms", "tobytes", "beforeoffset")
    val unknown = kvs.keySet -- known
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: unknown TRUNCATE key(s) '${unknown.mkString(", ")}' — " +
        "valid: beforeOffset, olderThanMs, toBytes")
    if (kvs.size != 1) throw new IllegalArgumentException(
      "ripple: ALTER TOPIC ... TRUNCATE takes exactly one of " +
        "(olderThanMs | toBytes | beforeOffset)")
    val (key, value) = kvs.head
    // a non-positive horizon/budget on an IMPERATIVE deletion verb is a
    // typo'd mass-delete, not a policy — same loudness the config path
    // applies to retentionMs/retentionBytes
    def positive(name: String): Long = {
      val v = AdminKvs.longOf(name, value)
      if (v <= 0) throw new IllegalArgumentException(
        s"ripple: TRUNCATE $name must be positive, got $v — a zero or " +
          "negative horizon would delete every segment but the newest")
      v
    }
    val n = key match {
      case "olderthanms" =>
        Ripple.truncateOlderThan(r, topic, positive("olderThanMs"))
      case "tobytes" =>
        Ripple.truncateToBytes(r, topic, positive("toBytes"))
      case "beforeoffset" =>
        Ripple.truncateBefore(r, topic, positive("beforeOffset"))
    }
    Seq(Row(topic, s"$key=$value", n))
  }
}

/** `COMPACT TOPIC t [KEYED] [IN '<root>']` — run compaction NOW. Plain:
  * offset-preserving byte-concat of adjacent small segments
  * ([[graft.api.Ripple.compactSegments]]). `KEYED`: latest-record-per-id
  * key compaction ([[graft.api.Ripple.compactKeyed]] — topic-config
  * codec/key-budget/tombstone-horizon all apply; live pins clamp). Both
  * run the DISTRIBUTED byte path (executors move bytes, the driver
  * commits metadata) — this is the statement an operator points at a 100 TB
  * topic. Returns (topic, keyed, segmentsCompacted).
  */
case class CompactTopicCommand(topic: String, keyed: Boolean,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("keyed", BooleanType),
    attr("segments_compacted", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = resolveRoot(root, spark)
    val n =
      if (keyed) Ripple.compactKeyed(spark, r, topic)
      else Ripple.compactSegments(spark, r, topic)
    Seq(Row(topic, keyed, n))
  }
}

/** `RESET CONSUMER c ON t TO (EARLIEST | LATEST | TIMESTAMP <ms>)
  * [IN '<root>']` — move a managed consumer's committed cursors
  * ([[graft.api.Ripple.resetConsumer]]; the `kafka-consumer-groups
  * --reset-offsets` analog). The consumer must not be running (the Scala
  * call's own guard). Returns one row per bucket with the new offset.
  */
case class ResetConsumerCommand(consumer: String, topic: String,
    target: String, root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("consumer", StringType), attr("topic", StringType),
    attr("bucket", StringType), attr("offset", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = resolveRoot(root, spark)
    val to = target.toLowerCase(java.util.Locale.ROOT) match {
      case "earliest" => Ripple.ConsumerReset.Earliest
      case "latest"   => Ripple.ConsumerReset.Latest
      case ts if ts.startsWith("timestamp") =>
        Ripple.ConsumerReset.ToTimestamp(ts.stripPrefix("timestamp").trim.toLong)
    }
    Ripple.resetConsumer(r, topic, consumer, to).toSeq.sortBy(_._1).map {
      case (bucket, off) => Row(consumer, topic, bucket, off)
    }
  }
}

/** `DROP CONSUMER c ON t [IN '<root>']` — unregister a consumer and
  * delete its committed cursors ([[graft.api.Ripple.deleteConsumer]]);
  * retention stops honoring its floors immediately. Returns (consumer,
  * topic, dropped).
  */
case class DropConsumerCommand(consumer: String, topic: String,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("consumer", StringType), attr("topic", StringType),
    attr("dropped", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    Ripple.deleteConsumer(resolveRoot(root, spark), topic, consumer)
    Seq(Row(consumer, topic, true))
  }
}

/** `PIN SNAPSHOT name ON t [(ttlMs = N)] [IN '<root>']` — capture the
  * topic's committed offsets NOW and REGISTER the pin
  * ([[graft.api.Ripple.pinSnapshot]]): retention and keyed compaction
  * clamp to it until dropped (or past its optional TTL). Returns (name,
  * topic, token) — the token string drives `option("snapshot", token)`
  * reads. `DROP SNAPSHOT name ON t` removes the pin (loud when absent).
  */
case class PinSnapshotCommand(name: String, topic: String,
    opts: Option[String], root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("name", StringType), attr("topic", StringType),
    attr("token", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val kvs = AdminKvs.parse(opts.getOrElse(""))
    val unknown = kvs.keySet -- Set("ttlms")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: unknown PIN SNAPSHOT key(s) '${unknown.mkString(", ")}' — " +
        "valid: ttlMs")
    val ttl = kvs.get("ttlms").map(AdminKvs.longOf("ttlMs", _)).getOrElse(0L)
    val token = Ripple.pinSnapshot(resolveRoot(root, spark), topic, name, ttl)
    Seq(Row(name, topic, token))
  }
}

case class DropSnapshotCommand(name: String, topic: String,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("name", StringType), attr("topic", StringType),
    attr("dropped", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    Ripple.dropSnapshot(resolveRoot(root, spark), topic, name)
    Seq(Row(name, topic, true))
  }
}

/** `VACUUM SNAPSHOTS ON t [(graceMs = N)] [IN '<root>']` —
  * garbage-collect pins that EXPIRED more than `graceMs` ago
  * ([[graft.api.Ripple.vacuumSnapshots]]; one of the two weekly-cron
  * hygiene calls). Unexpired and no-expiry pins are never touched.
  * Returns (topic, grace_ms, pins_removed).
  */
case class VacuumSnapshotsCommand(topic: String, opts: Option[String],
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("grace_ms", LongType),
    attr("pins_removed", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val kvs = AdminKvs.parse(opts.getOrElse(""))
    val unknown = kvs.keySet -- Set("gracems")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: unknown VACUUM SNAPSHOTS key(s) '${unknown.mkString(", ")}' " +
        "— valid: graceMs")
    val grace = kvs.get("gracems").map(AdminKvs.longOf("graceMs", _)).getOrElse(0L)
    if (grace < 0) throw new IllegalArgumentException(
      s"ripple: VACUUM SNAPSHOTS graceMs must be >= 0, got $grace")
    val n = Ripple.vacuumSnapshots(resolveRoot(root, spark), topic, grace)
    Seq(Row(topic, grace, n))
  }
}

/** `EXPIRE CONSUMERS ON t (olderThanMs = N) [IN '<root>']` — delete the
  * committed state of consumers idle past the threshold
  * ([[graft.api.Ripple.expireConsumers]], Kafka
  * `offsets.retention.minutes` parity; the other weekly-cron call).
  * A live streaming consumer refreshes its stamp every epoch and can
  * never expire under a sane threshold; the Scala call's own positivity
  * guard and pre-delete activity re-check apply verbatim. Returns one
  * row per expired consumer — zero rows = nothing was idle enough.
  */
case class ExpireConsumersCommand(topic: String, kvText: String,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("consumer", StringType), attr("topic", StringType),
    attr("expired", BooleanType))
  override def run(spark: SparkSession): Seq[Row] = {
    val kvs = AdminKvs.parse(kvText)
    val unknown = kvs.keySet -- Set("olderthanms")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: unknown EXPIRE CONSUMERS key(s) '${unknown.mkString(", ")}' " +
        "— valid: olderThanMs")
    val older = kvs.get("olderthanms").map(AdminKvs.longOf("olderThanMs", _))
      .getOrElse(throw new IllegalArgumentException(
        "ripple: EXPIRE CONSUMERS requires (olderThanMs = N)"))
    Ripple.expireConsumers(resolveRoot(root, spark), topic, older)
      .sorted.map(id => Row(id, topic, true))
  }
}

/** `ABORT TRANSACTIONS ON t (olderThanMs = N) [IN '<root>']` — resolve
  * in-flight transactional epochs whose pending marker is older than the
  * threshold ([[graft.api.Ripple.abortStaleTxns]]; Kafka's coordinator
  * timeout-abort). One row per aborted (query, epoch) with the clamped
  * published ranges (`bucket:[start,end)`, comma-joined; empty = the
  * dead epoch never published to this topic). Zero rows = nothing was
  * stale enough.
  */
case class AbortTransactionsCommand(topic: String, kvText: String,
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("query", StringType), attr("epoch", LongType),
    attr("topic", StringType), attr("published_ranges", StringType))
  override def run(spark: SparkSession): Seq[Row] = {
    val kvs = AdminKvs.parse(kvText)
    val unknown = kvs.keySet -- Set("olderthanms")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: unknown ABORT TRANSACTIONS key(s) '${unknown.mkString(", ")}' " +
        "— valid: olderThanMs")
    val older = kvs.get("olderthanms").map(AdminKvs.longOf("olderThanMs", _))
      .getOrElse(throw new IllegalArgumentException(
        "ripple: ABORT TRANSACTIONS requires (olderThanMs = N) — an " +
          "unqualified abort would kill every LIVE in-flight epoch too"))
    Ripple.abortStaleTxns(resolveRoot(root, spark), topic, older)
      .sortBy(m => (m.qdir, m.epoch)).map { m =>
        Row(m.qdir, m.epoch, m.topic,
          m.ranges.toSeq.sortBy(_._1).map { case (b, (s, c)) =>
            s"$b:[$s,${s + c})" }.mkString(","))
      }
  }
}

/** `VACUUM TRANSACTIONS ON t [(graceMs = N)] [IN '<root>']` —
  * garbage-collect aborted-transaction markers whose every range fell
  * below the retention floor ([[graft.api.Ripple.vacuumTxnMarkers]]; the
  * third hygiene-cron call). Markers still hiding retained rows are
  * never touched. Returns (topic, grace_ms, markers_removed).
  */
case class VacuumTransactionsCommand(topic: String, opts: Option[String],
    root: Option[String]) extends LeafRunnableCommand {
  import GraftSqlParser._
  override val output: Seq[Attribute] = Seq(
    attr("topic", StringType), attr("grace_ms", LongType),
    attr("markers_removed", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val kvs = AdminKvs.parse(opts.getOrElse(""))
    val unknown = kvs.keySet -- Set("gracems")
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"ripple: unknown VACUUM TRANSACTIONS key(s) '${unknown.mkString(", ")}' " +
        "— valid: graceMs")
    val grace = kvs.get("gracems").map(AdminKvs.longOf("graceMs", _)).getOrElse(0L)
    val n = Ripple.vacuumTxnMarkers(resolveRoot(root, spark), topic, grace).size
    Seq(Row(topic, grace, n))
  }
}
