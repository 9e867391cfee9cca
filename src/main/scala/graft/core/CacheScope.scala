package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's one cache lifetime rule. Every persisted intermediate
  * goes through [[persist]], and the innermost open [[run]] on the
  * calling thread owns what that call cached: the scope releases it when
  * its body exits, a throw included, newest first, so no release
  * re-plans a dependent cache that is about to go as well. A frame that
  * is already cached (a caller's persist, or an equal plan another
  * frame cached) is left exactly as found: Spark caches are plan-matched
  * and not reference-counted, so releasing it would evict its owner's
  * blocks.
  *
  * Operators persist and return plans that read their caches; the
  * caller that runs the plans opens the scope around them (a query
  * write, a curation stage landing, a streaming trigger). An operator
  * that materializes everything itself opens its own scope. With no
  * scope open, [[persist]] is a bare persist: the frame stays cached
  * until [[release]] ends it or the session clears its cache.
  *
  * The scope stack is a plain ThreadLocal: a thread started inside a
  * scope begins with none open and never registers into its parent's.
  */
object CacheScope {

  private final class Scope {
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  }

  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Frames cached with no scope open, weakly held: a frame nobody
    * releases keeps its cache, as a bare persist would.
    */
  private val unscoped = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, java.lang.Boolean]())

  /** Run `body`; release what it cached once it exits. */
  def run[T](body: => T): T = {
    val scope = new Scope
    open.set(scope :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      scope.owned.reverseIterator.foreach(_.unpersist())
    }
  }

  /** Persist `df` at MEMORY_AND_DISK unless it is already cached. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      open.get match {
        case scope :: _ => scope.owned += df
        case Nil => unscoped.put(df, true)
      }
    }
    df
  }

  /** End a cache [[persist]] made, before its scope closes; a no-op for
    * a frame [[persist]] did not cache (a caller's, or another thread's
    * scope's).
    */
  def release(df: DataFrame): Unit = {
    val owner = open.get.find(_.owned.exists(_ eq df))
    owner.foreach(s => s.owned.remove(s.owned.indexWhere(_ eq df)))
    if (owner.isDefined || unscoped.remove(df) != null) df.unpersist()
  }
}
