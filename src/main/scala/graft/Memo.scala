package graft

import org.apache.spark.sql.SparkSession

/** The session's derived state, under one owner: every memoized
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
  * Builds may persist what they return; nothing here unpersists. [[reset]]
  * drops every cell and clears the shared cache manager, which releases
  * every persist a cell made — including one made by a build still in
  * flight across an earlier reset, whose late result no cell holds.
  */
object Memo {

  private final class Cell(build: () => Any) {
    lazy val value: Any = build()
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Cell]()

  /** The session's value for `name`, built by `build` on first use. */
  def apply[T](s: SparkSession, name: String)(build: => T): T =
    cells.computeIfAbsent((s, name), _ => new Cell(() => build)).value.asInstanceOf[T]

  /** Drop every entry and every cached table. `clearCache` acts on the
    * cache manager all sessions of the context share, so the cells of
    * every session go, not only `s`'s: none may keep a dropped persist.
    * Write-once views ([[graft.sources.MatView]]) live in the catalog and
    * survive.
    */
  def reset(s: SparkSession): Unit = {
    cells.clear()
    s.catalog.clearCache()
  }
}
