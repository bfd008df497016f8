package graft.connector

import graft.log.{FileTopicLog, LogFs}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, StructType}

/** Per-topic payload schema registry (round-11 verdict #5): the lift schema
  * lives in topic metadata (`<root>/<topic>/.schema`, a StructType JSON
  * document), registered at create or first packed write — so `lift` needs
  * no caller-supplied schema and `CREATE TABLE ... USING ripple` with
  * `lift 'true'` exposes the payload columns directly. The reference keeps
  * topic metadata in its ZK tree (`internal/topic/topic.go:12-25` in
  * ripple-mq/ripple-server) but payloads stay untyped byte blobs there
  * (GOB, flagged non-portable at `internal/broker/consumer/server/core.go:14`);
  * the registry is what turns a topic into a TABLE.
  *
  * Drift policy: registration against an existing DIFFERENT schema fails
  * loudly — a second producer shipping a new payload shape must migrate
  * explicitly (new topic, or [[dropSchema]] + re-register), never silently
  * fork the readers' view of the columns.
  *
  * Version history (round 13): every accepted registration/evolution is
  * persisted as a numbered version under `<topic>/.schema-versions/v-N`
  * (`.schema` stays the CURRENT pointer, wire-stable for existing
  * readers). Snapshot tokens record the version they were cut under, so a
  * pinned read lifts with the schema its corpus was WRITTEN under even
  * after later evolutions ([[TopicSnapshot]]).
  */
object TopicSchemas {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private def path(log: FileTopicLog, topic: String): HPath =
    new HPath(new HPath(log.root, topic), ".schema")
  private def versionsDir(log: FileTopicLog, topic: String): HPath =
    new HPath(new HPath(log.root, topic), ".schema-versions")
  private def versionPath(log: FileTopicLog, topic: String, v: Int): HPath =
    new HPath(versionsDir(log, topic), f"v-$v%05d")

  private def listVersions(log: FileTopicLog, topic: String): Seq[Int] =
    (try log.fs.listStatus(versionsDir(log, topic))
     catch { case _: java.io.FileNotFoundException =>
       Array.empty[org.apache.hadoop.fs.FileStatus] })
      .iterator.map(_.getPath.getName).collect {
        case n if n.startsWith("v-") => n.substring(2).toInt
      }.toSeq.sorted

  private def writeVersion(log: FileTopicLog, topic: String, v: Int,
      schema: StructType): Unit =
    log.writeFileAtomic(versionPath(log, topic, v),
      schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The registered payload schema, if any. A torn/garbage document reads
    * as a loud parse failure, not as "no schema" — silently reverting a
    * typed topic to blobs would break every lifted reader downstream.
    */
  def get(log: FileTopicLog, topic: String): Option[StructType] =
    try Some(DataType.fromJson(log.readFileUtf8(path(log, topic))).asInstanceOf[StructType])
    catch { case _: java.io.FileNotFoundException => None }

  /** The registered schema or a loud, actionable absence. */
  def require(log: FileTopicLog, topic: String): StructType =
    get(log, topic).getOrElse(throw new IllegalArgumentException(
      s"topic '$topic' has no registered payload schema. Register one with " +
        "Ripple.createTopic(root, topic, n, schema) or write through " +
        "Ripple.writePacked (which registers the frame's schema), or pass " +
        "an explicit schema to Ripple.lift."))

  /** Current schema version number (1-based), None when no schema is
    * registered. A topic registered before version history existed has a
    * current schema but no version files — it reads as version 1
    * ([[schemaAt]] resolves 1 to the current schema in that case).
    *
    * RECONCILED against the pointer: a crash in [[evolve]] between the
    * create-exclusive version claim and the pointer write leaves an
    * orphan v-N whose schema never became current. Reporting the orphan
    * as current would let subsequent snapshots pin a schemaV that was
    * never the registered shape — so the current version is the HIGHEST
    * version whose recorded file equals the pointer schema, scanned from
    * the top (the crash-free case hits on the first read). The orphan
    * number stays claimed; the next [[evolve]] allocates past it.
    */
  def currentVersion(log: FileTopicLog, topic: String): Option[Int] =
    get(log, topic).map { pointer =>
      def scan(): Option[Int] = {
        val vs = listVersions(log, topic)
        if (vs.isEmpty) Some(1)
        else vs.sorted(Ordering[Int].reverse).find { v =>
          try DataType.fromJson(
            log.readFileUtf8(versionPath(log, topic, v))) == pointer
          catch { case _: java.io.FileNotFoundException => false }
        }
      }
      scan().getOrElse {
        // NO recorded version matches the pointer: the pointer was
        // rewritten out-of-band (or a version file corrupted). Returning
        // the highest recorded number would pin exactly the orphan shape
        // the reconcile exists to skip — instead report the pointer as the
        // NEXT (unrecorded) version, with a loud warning. This path is
        // READ-ONLY by contract (round-15 ADVICE): it runs from
        // describeTopic and the SHOW SCHEMA VERSIONS / DESCRIBE TOPIC SQL
        // commands, which must work on read-only credentials — the repair
        // WRITE happens on the next [[evolve]] (its allocator claims past
        // every recorded number, and [[schemaAt]] resolves this virtual
        // number to the pointer so snapshots cut in the breach window
        // still lift).
        logger.warn(s"topic '$topic': registered schema pointer matches NO " +
          "recorded version (was the pointer rewritten outside evolve()?) — " +
          "reporting it as the next unrecorded version; the next evolve() " +
          "records it")
        listVersions(log, topic).maxOption.getOrElse(0) + 1
      }
    }

  /** The schema at a specific version. Version 1 of a pre-history topic
    * resolves to the current schema; anything else missing is loud — a
    * pinned read must never silently lift with the wrong shape.
    */
  def schemaAt(log: FileTopicLog, topic: String, v: Int): StructType = {
    try DataType.fromJson(log.readFileUtf8(versionPath(log, topic, v)))
      .asInstanceOf[StructType]
    catch {
      case _: java.io.FileNotFoundException =>
        val vs = listVersions(log, topic)
        if (v == 1 && vs.isEmpty) require(log, topic)
        else if (v == vs.maxOption.getOrElse(0) + 1 && get(log, topic).isDefined) {
          // the breach window's VIRTUAL version: [[currentVersion]] reports
          // the pointer as maxRecorded+1 when it matches no recorded file
          // (out-of-band pointer rewrite) and records nothing — reads are
          // read-only. A snapshot cut in that window pinned this number;
          // the pointer is the only shape it can mean.
          logger.warn(s"topic '$topic': schema version $v is unrecorded — " +
            "resolving to the current pointer (breach-window snapshot; see " +
            "currentVersion)")
          require(log, topic)
        } else throw new IllegalStateException(
          s"topic '$topic' has no recorded schema version $v (recorded: " +
            s"${vs.mkString(", ")}) — a snapshot " +
            "pinned under that version cannot lift; was the schema history " +
            "dropped?")
    }
  }

  /** Lossless per-field type widening — the one RE-TYPING evolution class
    * accepted ([[evolve]]): every int is exactly representable as a long
    * and every float as a double, and the payload JSON text is unchanged
    * (the parser just reads the same literal at the wider type), so every
    * already-written blob lifts exactly under the widened schema.
    */
  private def widensLosslessly(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (IntegerType, LongType)  => true
      case (FloatType, DoubleType)  => true
      case _                        => false
    }

  /** A frame schema SATISFIES the registered one when names and order
    * match, each frame type is the registered type or narrower by a
    * lossless widening (a producer still shipping ints after an int→long
    * widen stays valid — its literals lift exactly), and the frame is at
    * most as nullable per field — data stricter than the contract is fine;
    * data that may carry nulls where the contract promises none is not.
    */
  private def satisfies(registered: StructType, incoming: StructType): Boolean =
    registered.length == incoming.length &&
      registered.fields.zip(incoming.fields).forall { case (r, i) =>
        r.name == i.name &&
          (r.dataType == i.dataType || widensLosslessly(i.dataType, r.dataType)) &&
          (r.nullable || !i.nullable)
      }

  /** Test seam: runs between [[register]]'s absence check and its exclusive
    * write, so a spec can interleave a racing first registration
    * deterministically. No-op in production.
    */
  private[graft] var raceSeam: () => Unit = () => ()

  private def driftError(topic: String, existing: StructType,
      incoming: StructType): Nothing =
    throw new IllegalStateException(
      s"topic '$topic' already has a registered payload schema\n  " +
        s"registered: ${existing.simpleString}\n  incoming:   " +
        s"${incoming.simpleString}\nSchema drift on a shared topic breaks " +
        "every lifted reader; migrate to a new topic or drop the old " +
        "schema explicitly (TopicSchemas.dropSchema) after draining " +
        "consumers.")

  /** Register `schema` for `topic`; idempotent for a schema that satisfies
    * the registered one, LOUD on drift (see class doc). Field ORDER is
    * part of the contract — lifted column order is user-visible. First
    * registration is create-exclusive: the loser of a two-producer race
    * re-reads the winner and runs the same drift check it would have hit
    * arriving second.
    */
  def register(log: FileTopicLog, topic: String, schema: StructType): Unit =
    get(log, topic) match {
      case Some(existing) if !satisfies(existing, schema) =>
        driftError(topic, existing, schema)
      case Some(_) => ()
      case None =>
        raceSeam()
        val bytes = schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (LogFs.putIfAbsent(log.fs, path(log, topic), bytes)) {
          // we own this registration: clear any version files a crashed
          // dropSchema left behind (it deletes the pointer first, then
          // the history — a crash between the two must not let the OLD
          // generation's v2..N outrank this generation's v1)
          try log.fs.delete(versionsDir(log, topic), true)
          catch { case _: java.io.IOException => () }
          writeVersion(log, topic, 1, schema)
        } else {
          // lost the first-registration race — enforce the drift policy
          // against whatever the winner registered
          val winner = require(log, topic)
          if (!satisfies(winner, schema)) driftError(topic, winner, schema)
        }
    }

  /** Explicit schema removal — the migration escape hatch. Drops the
    * version history with the pointer: a re-register starts a fresh v1,
    * and any snapshot pinned under the dropped history fails loudly in
    * [[schemaAt]] rather than lifting with a post-migration shape.
    */
  def dropSchema(log: FileTopicLog, topic: String): Unit = {
    try log.fs.delete(path(log, topic), false)
    catch { case _: java.io.IOException => () }
    try log.fs.delete(versionsDir(log, topic), true)
    catch { case _: java.io.IOException => () }
  }

  /** Compatible schema evolution — two accepted classes, everything else a
    * loud refusal:
    *
    *   - ADDITIVE: the registered fields are a prefix of the new schema
    *     (names in order, nullability never narrowed) and every appended
    *     field is nullable — old blobs lift with NULLs in the new columns
    *     (the JSON parser's missing-field behavior).
    *   - LOSSLESS WIDENING (round 13): a prefix field may widen int→long
    *     or float→double ([[widensLosslessly]]) — routine over a
    *     long-lived topic (an id column outgrowing int); old literals
    *     parse exactly at the wider type, so no blob changes meaning.
    *
    * Renames, narrowing/other retypes, reorders, drops and non-nullable
    * adds stay refused: those make old blobs unreadable or silently wrong.
    * Each accepted evolution lands as the next numbered version, claimed
    * CREATE-EXCLUSIVE: two admins evolving concurrently serialize on the
    * version number — the loser re-reads the winner's schema as the new
    * base and re-validates (its change may now be redundant, still
    * compatible, or newly refused), never silently overwrites history.
    */
  def evolve(log: FileTopicLog, topic: String, schema: StructType): Unit = {
    var attempt = 0
    while (true) {
      val existing = require(log, topic)
      if (existing == schema) return
      // prefix: same names in order, same-or-widened types, nullability
      // never NARROWED
      val prefixOk = schema.fields.length >= existing.fields.length &&
        existing.fields.zip(schema.fields).forall { case (e, p) =>
          e.name == p.name &&
            (e.dataType == p.dataType || widensLosslessly(e.dataType, p.dataType)) &&
            (p.nullable || !e.nullable)
        }
      val addedNullable = schema.fields.drop(existing.fields.length).forall(_.nullable)
      if (!prefixOk || !addedNullable)
        throw new IllegalStateException(
          s"topic '$topic': schema evolution must be ADDITIVE (registered " +
            "fields an exact prefix, appended fields nullable) or a LOSSLESS " +
            "WIDENING (int→long, float→double) of a prefix field.\n  " +
            s"registered: ${existing.simpleString}\n  proposed:   " +
            s"${schema.simpleString}\nOld payloads could not lift under this " +
            "change; migrate to a new topic instead.")
      // seed v1 for a topic registered before version history existed, so
      // snapshots cut before this evolution still resolve their version
      if (listVersions(log, topic).isEmpty) writeVersion(log, topic, 1, existing)
      // breach repair, confined to the WRITE path (round-15 ADVICE —
      // currentVersion is read-only): a pointer matching NO recorded
      // version (out-of-band rewrite) is seeded here at the same virtual
      // number reads have been reporting, so snapshots cut in the breach
      // window keep lifting the OLD pointer shape and this evolution
      // allocates past it
      else if (!listVersions(log, topic).exists { w =>
        try DataType.fromJson(log.readFileUtf8(versionPath(log, topic, w))) == existing
        catch { case _: java.io.FileNotFoundException => false }
      }) LogFs.putIfAbsent(log.fs,
        versionPath(log, topic, listVersions(log, topic).max + 1),
        existing.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // allocate past EVERY claimed number, including a crashed evolve's
      // orphan (whose number currentVersion deliberately skips) — claiming
      // currentVersion+1 would collide with the orphan forever
      val v = listVersions(log, topic).max + 1
      // history before pointer, version claimed put-if-absent: a crash
      // between the claim and the pointer write leaves an orphan version
      // file (harmless — the next evolve takes v+1), never a current
      // schema whose version is unrecorded; a LOST claim means a
      // concurrent evolve advanced the base — loop and re-validate
      if (LogFs.putIfAbsent(log.fs, versionPath(log, topic, v),
          schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))) {
        log.writeFileAtomic(path(log, topic),
          schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        return
      }
      attempt += 1
      if (attempt > 50) throw new IllegalStateException(
        s"topic '$topic': schema evolution lost the version race $attempt " +
          "times — serialize admin evolutions")
    }
  }
}
