package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The one place a builder pins an intermediate, in the three shapes of
  * [[Memo]]'s lifetime rule. Each helper names the pin's owner, so no
  * builder persists or unpersists by hand.
  */
object Pin {

  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Shared: `df` persisted in the session's cache manager and
    * materialized, for a [[Memo]] build. The cell records the pin and
    * [[Memo.reset]] releases it.
    */
  def shared(df: DataFrame): DataFrame = {
    val p = df.persist(Level)
    p.count()
    p
  }

  /** Escaping: `df` as a frame-owned pin, for a pin the returned lazy
    * frame still reads. Its rows are cached once, columnar, as
    * `Dataset.persist` would cache them, under a plan that is that single
    * cached relation: per-action analysis stays O(1) however deep `df`'s
    * lineage is (an iterative round rebases here, or its analysis grows
    * with the rounds; measured ~2.6 s per action on a 640-edge graph whose
    * execution takes milliseconds). A lost block recomputes through
    * `df`'s physical plan. The first action over the pin fills it; the
    * frame owns it, and Spark's `ContextCleaner` unpersists it once
    * nothing references the frame (or a frame derived from it).
    */
  def owned(df: DataFrame): DataFrame = Bridge.cached(df, Level)

  /** The pins of one [[scoped]] call. */
  final class Scope private[Pin] {
    private[Pin] var held = List.empty[DataFrame]

    /** `df` pinned (as [[owned]]) until the scope exits. */
    def apply(df: DataFrame): DataFrame = {
      val p = owned(df)
      held ::= p
      p
    }
  }

  /** Scoped: `body` runs with a [[Scope]] whose pins are released on every
    * exit path of `body`. What `body` returns must not need them filled:
    * a later read through a released pin recomputes it.
    */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope)
    finally scope.held.foreach(_.queryExecution.analyzed match {
      case r: InMemoryRelation => r.cacheBuilder.clearCache()
      case _ =>
    })
  }
}
