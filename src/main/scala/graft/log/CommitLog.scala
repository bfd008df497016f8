package graft.log

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference

/** One committed segment: `name` is the data file (unique, never reused)
  * inside the bucket directory; `[start, start+count)` is its offset range.
  * The writer that commits it records the rest of its facts, so readers
  * never open or stat the file to learn them: `rows` records held
  * (`count` for a dense segment, the retained count for a key-compacted
  * one), their (`minTs`, `maxTs`) frame timestamps in millis, and the
  * file's length in `bytes`. A segment with no rows carries the
  * (`Long.MaxValue`, `Long.MinValue`) sentinels, which every ts
  * comparison prunes.
  */
case class SegMeta(name: String, start: Long, count: Long,
    minTs: Long, maxTs: Long, bytes: Long, rows: Long) {
  private[log] def line: String =
    s"A $start $count $name $minTs $maxTs $bytes $rows"
}

/** Committed bucket state at `version` (−1 = never committed / empty).
  * `segs` is sorted by start offset.
  */
case class CommitState(version: Long, segs: Vector[SegMeta]) {
  def endOffset: Long =
    if (segs.isEmpty) 0L else segs.iterator.map(s => s.start + s.count).max
  def at(start: Long, count: Long): Option[SegMeta] =
    segs.find(s => s.start == start && s.count == count)
  def overlapping(start: Long, count: Long): Option[SegMeta] =
    segs.find(s => s.start < start + count && s.start + s.count > start &&
      !(s.start == start && s.count == count))
}

/** Sequenced put-if-absent commit log: the authoritative segment list of
  * one bucket, and the only way a segment becomes live, on every
  * filesystem. This is the public Delta-Lake/Iceberg commit-log pattern
  * re-expressed for the topic log:
  *
  *   - Data files are written under UNIQUE names directly in the bucket
  *     directory. An uncommitted data file is invisible to readers, so a
  *     data write needs no staging, no rename and no lock.
  *   - The bucket's segment list lives in `.commitlog/`: version-numbered
  *     delta files `c-<v>`, each written with [[LogFs.putIfAbsent]] — a
  *     hard link on local disks, a refusing rename on HDFS, a conditional
  *     PUT on object stores. Exactly one writer wins each version, and a
  *     reader never sees a version file without its lines. Losers re-read
  *     and retry with fresh state, so two drivers can never commit
  *     overlapping offsets: mutual exclusion comes from the commit
  *     sequence itself, and the bucket lock is only a contention throttle.
  *   - Every [[CommitLog.CheckpointInterval]]-th version also writes a
  *     full-state checkpoint `k-<v>`; a cold read is one directory listing
  *     plus the latest checkpoint and its delta suffix, never an unbounded
  *     replay. Versions more than one interval behind the newest
  *     checkpoint are garbage-collected in ascending order, so the listing
  *     stays O(interval).
  *   - A warm [[read]] costs two file stats: the last state this instance
  *     saw is reused while `c-<v+1>` is absent and `c-<v>` still carries
  *     the stamp it had. Ascending GC makes that sound: a GC that removed
  *     `c-<v+1>` removed `c-<v>` first, so a reader that fell more than a
  *     GC floor behind always re-reads from the newest checkpoint. A
  *     present `c-<v+1>` reads only the new deltas.
  *
  * The reference keeps all of this in ZooKeeper znodes + RAM
  * (`internal/lighthouse/io/io.go:55-156`,
  * `pkg/utils/collection/concurrent_list.go:39-73` in
  * ripple-mq/ripple-server) and cannot run on an object store at all.
  *
  * Delta file format (UTF-8 lines): `A <start> <count> <name> <minTs>
  * <maxTs> <bytes> <rows>` adds a segment with its [[SegMeta]] facts,
  * `D <name>` drops one. Checkpoints carry only `A` lines. Per-file stats
  * in the add action follow Delta Lake and Iceberg. The retired
  * four-field `A` line, which carried offsets only, is refused loudly.
  */
final class CommitLog private[graft] (fs: FileSystem, dir: HPath,
    checkpointInterval: Int) {
  require(checkpointInterval > 0, "checkpointInterval must be positive")

  def this(fs: FileSystem, dir: HPath) = this(fs, dir, CommitLog.CheckpointInterval)

  private def cPath(v: Long) = new HPath(dir, f"c-$v%020d")
  private def kPath(v: Long) = new HPath(dir, f"k-$v%020d")

  private def parseVersion(name: String): Option[(Char, Long)] =
    if ((name.startsWith("c-") || name.startsWith("k-")) && name.length == 22)
      try Some((name.charAt(0), name.substring(2).toLong))
      catch { case _: NumberFormatException => None }
    else None

  private def listVersions(): Seq[(Char, Long)] =
    (try fs.listStatus(dir)
     catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] })
      .iterator.flatMap(st => parseVersion(st.getPath.getName)).toSeq

  private def readLines(p: HPath): Seq[String] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, UTF_8).split('\n').toSeq.filter(_.nonEmpty)
    } finally in.close()
  }

  private def applyLines(segs: Vector[SegMeta], lines: Seq[String], src: HPath): Vector[SegMeta] = {
    var cur = segs
    lines.foreach { line =>
      line.split(' ') match {
        case Array("A", s, c, name, mn, mx, b, r) =>
          cur = cur :+ SegMeta(name, s.toLong, c.toLong, mn.toLong, mx.toLong, b.toLong, r.toLong)
        case Array("D", name) => cur = cur.filterNot(_.name == name)
        case Array("A", _, _, _) => throw new IllegalStateException(
          s"$src holds the retired four-field commit line `$line` (offsets " +
            "without segment stats), which this log does not read; rewrite " +
            "the topic through a current writer")
        case _ => throw new java.io.IOException(s"bad commit line in $src: $line")
      }
    }
    cur
  }

  /** The last state this instance read or committed, anchored by the
    * (mtime, length) stamp of its own version file.
    */
  private final case class Seen(state: CommitState, stamp: (Long, Long))
  private val seen = new AtomicReference[Seen](null)

  private def stampOf(v: Long): Option[(Long, Long)] = LogFs.stamp(fs, cPath(v))

  private def remember(state: CommitState, always: Boolean): Unit =
    stampOf(state.version).foreach { stamp =>
      val next = Seen(state, stamp)
      var cur = seen.get
      while ((always || cur == null || cur.state.version < state.version) &&
          !seen.compareAndSet(cur, next))
        cur = seen.get
    }

  /** Current committed state (see the class doc for what a warm read
    * costs). The result is always a state that was committed at some point
    * during the call.
    */
  def read(): CommitState = {
    val s = seen.get
    if (s != null) {
      val v = s.state.version
      if (stampOf(v + 1).isEmpty) {
        if (stampOf(v).contains(s.stamp)) return s.state
      } else if (stampOf(v).contains(s.stamp)) {
        return readAhead(s.state)
      }
    }
    readFull()
  }

  /** Apply the deltas after `from` until the first absent version. That
    * absence proves `v` current only while `c-<v>` is still present (GC
    * runs oldest first); if GC passed this reader mid-walk, newer versions
    * may exist, so it re-reads from the newest checkpoint.
    */
  private def readAhead(from: CommitState): CommitState = {
    var segs = from.segs
    var v = from.version
    try {
      while (true) {
        val p = cPath(v + 1)
        segs = applyLines(segs, readLines(p), p)
        v += 1
      }
    } catch { case _: java.io.FileNotFoundException => () }
    if (stampOf(v).isEmpty) return readFull()
    val state = CommitState(v, segs.sortBy(_.start))
    remember(state, always = false)
    state
  }

  /** Latest checkpoint + delta suffix. Retries on the bounded race where a
    * concurrent checkpoint GC deletes a just-listed version file
    * (re-listing always converges — GC only removes versions a full
    * interval behind the newest checkpoint).
    */
  private def readFull(): CommitState = {
    var attempt = 0
    while (true) {
      val vs = listVersions()
      if (vs.isEmpty) { seen.set(null); return CommitLog.Empty }
      val latest = vs.iterator.map(_._2).max
      val base = vs.iterator.filter(v => v._1 == 'k' && v._2 <= latest)
        .map(_._2).foldLeft(-1L)(math.max)
      try {
        var segs =
          if (base < 0) Vector.empty[SegMeta]
          else applyLines(Vector.empty, readLines(kPath(base)), kPath(base))
        var v = base + 1
        while (v <= latest) {
          segs = applyLines(segs, readLines(cPath(v)), cPath(v))
          v += 1
        }
        val state = CommitState(latest, segs.sortBy(_.start))
        remember(state, always = true)
        return state
      } catch {
        case _: java.io.FileNotFoundException if attempt < 5 =>
          attempt += 1 // listed a version GC'd underneath us; converges
      }
    }
    throw new IllegalStateException("unreachable")
  }

  @volatile private var dirMade = false

  /** Attempt to commit `adds`/`removes` as version `state.version + 1` via
    * put-if-absent. Returns the new state on the win, `None` when another
    * writer took the version (caller re-reads and retries). Overlap and
    * duplicate checks belong to the CALLER (it has the semantics); this
    * layer only guarantees the sequenced, lost-update-free append.
    */
  def tryCommit(state: CommitState, adds: Seq[SegMeta], removes: Set[String]): Option[CommitState] = {
    require(adds.nonEmpty || removes.nonEmpty, "empty commit")
    val v = state.version + 1
    val lines =
      removes.toSeq.sorted.map(n => s"D $n") ++
        adds.map(_.line)
    if (!dirMade) { fs.mkdirs(dir); dirMade = true }
    if (!LogFs.putIfAbsent(fs, cPath(v), lines.mkString("\n").getBytes(UTF_8)))
      return None
    // Resurrection guard: a writer stalled long enough that version v was
    // committed by others AND already GC'd can "win" put-if-absent on a
    // version readers ignore (they apply only versions above the newest
    // checkpoint) — its rows would silently never become visible. GC runs
    // in ascending order, so a present c-<v-1> proves c-<v> was never
    // GC'd; otherwise a checkpoint more than one interval ahead proves v
    // was inside the GC floor: drop the file and retry. A false positive
    // would need >= interval further commits between the create and the
    // listing and still only costs a retry, never a loss.
    if (v == 0 || stampOf(v - 1).isEmpty) {
      val newestCk = listVersions().iterator.filter(_._1 == 'k').map(_._2).foldLeft(-1L)(math.max)
      if (newestCk - checkpointInterval > v) {
        try fs.delete(cPath(v), false) catch { case _: java.io.IOException => () }
        return None
      }
    }
    val next = CommitState(v,
      (state.segs.filterNot(s => removes.contains(s.name)) ++ adds).sortBy(_.start))
    if (v > 0 && v % checkpointInterval == 0) checkpointAndGc(v, next)
    remember(next, always = false)
    Some(next)
  }

  /** Full-state checkpoint at `v` + GC of versions a full interval behind,
    * oldest first (the warm read relies on that order). Two committers
    * racing the same checkpoint write identical content (state after v is
    * deterministic from the log), so the loser's refusal is ignored.
    */
  private def checkpointAndGc(v: Long, state: CommitState): Unit = {
    LogFs.putIfAbsent(fs, kPath(v), state.segs.map(_.line).mkString("\n").getBytes(UTF_8))
    // readers that listed within the last interval of commits still resolve;
    // older in-flight reads retry via readFull's FNF loop
    val floor = v - checkpointInterval
    listVersions().filter(_._2 < floor).sortBy(_._2).foreach { case (kind, old) =>
      val p = if (kind == 'k') kPath(old) else cPath(old)
      try fs.delete(p, false) catch { case _: java.io.IOException => () }
    }
  }
}

object CommitLog {
  /** Versions between full-state checkpoints. */
  val CheckpointInterval = 64

  /** The state of a never-committed bucket (one shared instance, so
    * callers caching on the returned state see it unchanged).
    */
  val Empty: CommitState = CommitState(-1L, Vector.empty)
}
