package graft.ops

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel

/** The one pin lifecycle for operator intermediates. Iterative operators
  * and multiply-read subtrees pin an intermediate: without a pin Spark
  * re-executes the upstream pipeline per reuse, or grows an unbounded
  * lineage across iterations.
  *
  *   - `Materialize(ds)` pins eagerly in the session's
  *     `graft.materialize.mode`: `local` (default) is `localCheckpoint` —
  *     fastest, but lost with its executor; `reliable` is
  *     `Dataset.checkpoint` to the SparkContext checkpoint dir, else
  *     `graft.materialize.dir`, else a throw — it survives executor loss
  *     for one write + read; `persist` is a `MEMORY_AND_DISK` persist +
  *     `count()`, recomputed from lineage on loss.
  *   - `Materialize.cache(ds)`: the lazy `MEMORY_AND_DISK` persist.
  *   - `Materialize.scoped { body }`: the pins the two above take while
  *     `body` runs on this thread, in callees too, register with the
  *     innermost open scope. On exit, normal or by exception, the scope
  *     releases every registered pin its result does not read; those it
  *     reads move to the enclosing scope, or to the caller at top level.
  *     A result that is not a `Dataset` reads nothing.
  *   - `Materialize.release(ds)`: releases the pins `ds` reads, any mode.
  *
  * A `Dataset` reads the pinned leaves of its cache-substituted plan,
  * subqueries included: checkpointed `LogicalRDD`s and the
  * `InMemoryRelation`s of persists. The walk never descends into a pinned
  * leaf: what a pin was computed from is not read through it.
  */
object Materialize {
  val ModeKey = "graft.materialize.mode"
  val DirKey = "graft.materialize.dir"

  /** One pinned leaf; equal keys are the same pin. */
  private final case class Pin(key: AnyRef)(val release: () => Unit)

  /** Innermost-first stack of the scopes open on this thread. */
  private val scopes = new ThreadLocal[List[collection.mutable.Set[Pin]]] {
    override def initialValue(): List[collection.mutable.Set[Pin]] = Nil
  }

  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val spark = ds.sparkSession
    register(spark.conf.get(ModeKey, "local") match {
      case "local" => ds.localCheckpoint(true)
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val dir = spark.conf.getOption(DirKey).getOrElse(throw new IllegalStateException(
            s"$ModeKey=reliable needs sparkContext.setCheckpointDir(...) or $DirKey"))
          spark.sparkContext.setCheckpointDir(dir)
        }
        ds.checkpoint(true)
      case "persist" =>
        val pinned = ds.persist(StorageLevel.MEMORY_AND_DISK)
        pinned.count()
        pinned
      case other =>
        throw new IllegalArgumentException(s"$ModeKey: unknown mode '$other' (local|reliable|persist)")
    })
  }

  def cache[T](ds: Dataset[T]): Dataset[T] =
    register(ds.persist(StorageLevel.MEMORY_AND_DISK))

  def scoped[A](body: => A): A = {
    val own = collection.mutable.LinkedHashSet.empty[Pin]
    scopes.set(own :: scopes.get)
    var kept = Set.empty[Pin]
    try {
      val out = body
      out match {
        case ds: Dataset[_] => kept = pinsOf(ds).filter(own)
        case _ =>
      }
      out
    } finally {
      scopes.set(scopes.get.tail)
      own.filterNot(kept).foreach(_.release())
      scopes.get.headOption.foreach(_ ++= kept)
    }
  }

  def release(ds: Dataset[_]): Unit = {
    val pins = pinsOf(ds)
    scopes.get.foreach(_ --= pins)
    pins.foreach(_.release())
  }

  private def register[T](ds: Dataset[T]): Dataset[T] = {
    scopes.get.headOption.foreach(_ ++= pinsOf(ds))
    ds
  }

  private def pinsOf(ds: Dataset[_]): Set[Pin] = {
    val spark = ds.queryExecution.sparkSession
    val cm = spark.sharedState.cacheManager
    bridge.useCachedData(spark, ds.queryExecution.analyzed).collectWithSubqueries {
      case l: LogicalRDD if l.rdd.isCheckpointed =>
        Pin(Int.box(l.rdd.id))(() => l.rdd.unpersist(blocking = false))
      case m: InMemoryRelation =>
        val plan = m.cacheBuilder.logicalPlan
        Pin(plan.canonicalized)(() =>
          cm.uncacheQuery(spark, plan, cascade = false, blocking = false))
    }.toSet
  }
}
