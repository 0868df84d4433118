package graft

import org.apache.spark.sql.SparkSession

/** The session's shared derived state, under one owner: every memoized
  * derivation a query shares with its siblings (the PQ/ADC table, the PCA
  * model, the triangle census, the g4 labels, the persisted 5-gram
  * shingles) is a named entry here, and [[reset]] is the only way to drop
  * them.
  *
  * Each entry is a one-shot lazy cell keyed by `(session, name)`.
  * `ConcurrentHashMap.computeIfAbsent` only allocates the cell (the build
  * does not run inside the map's lock), and the cell's `lazy val` runs
  * the build exactly once under JVM synchronization: racing callers get
  * one build and the same instance. A build that throws leaves its cell
  * unbuilt, so the next caller retries it.
  *
  * Every pin a builder makes has exactly one owner, in one of three
  * shapes ([[Pin]] holds the helpers):
  *  - shared: state sibling queries reuse is a cell here, pinned with
  *    [[Pin.shared]]; a cell records the persisted RDDs its build left
  *    behind ([[owned]]), and [[reset]] releases them;
  *  - scoped: a pin used and dropped inside one call goes through
  *    [[Pin.scoped]], which releases it on every exit path;
  *  - escaping: a pin the returned lazy frame still reads goes through
  *    [[Pin.owned]]; the frame owns it, and Spark's `ContextCleaner`
  *    frees it once nothing references the frame.
  *
  * So no builder unpersists, and a plain caller needs [[reset]] only to
  * drop the shared cells, not to bound per-query state.
  */
object Memo {

  private final class Cell(s: SparkSession, build: () => Any) {
    @volatile var rdds: Set[Int] = Set.empty
    lazy val value: Any = {
      // Ids only: `getPersistentRDDs` returns strong references.
      val before = s.sparkContext.getPersistentRDDs.keysIterator.toSet
      val v = build()
      rdds = s.sparkContext.getPersistentRDDs.keysIterator.toSet -- before
      v
    }
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Cell]()

  /** The session's value for `name`, built by `build` on first use. */
  def apply[T](s: SparkSession, name: String)(build: => T): T =
    cells.computeIfAbsent((s, name), _ => new Cell(s, () => build)).value.asInstanceOf[T]

  /** The ids of the persisted RDDs that the built cells of `s`'s context
    * hold: every RDD a build persisted and left persisted. A build runs
    * on its caller's thread, so a query running concurrently with it can
    * have its own pins counted here too.
    */
  def owned(s: SparkSession): Set[Int] = {
    var ids = Set.empty[Int]
    cells.forEach { (k, c) => if (k._1.sparkContext eq s.sparkContext) ids ++= c.rdds }
    ids
  }

  /** Drop every entry and every cached table. `clearCache` acts on the
    * cache manager all sessions of the context share, so the cells of
    * every session go, not only `s`'s: none may keep a dropped persist.
    * The RDDs a cell recorded are unpersisted too (a frame-owned pin in a
    * cell is not a cache-manager entry). Write-once views
    * ([[graft.sources.MatView]]) live in the catalog and survive.
    */
  def reset(s: SparkSession): Unit = {
    val persisted = s.sparkContext.getPersistentRDDs
    cells.forEach((_, c) => c.rdds.foreach(id => persisted.get(id).foreach(_.unpersist(false))))
    cells.clear()
    s.catalog.clearCache()
  }
}
