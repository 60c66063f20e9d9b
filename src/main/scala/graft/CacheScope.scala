package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one cache-lifetime idiom.
  *
  * The rule: a cache that the returned lazy frame still reads is made with
  * [[CacheScope.persist]]; a cache the function releases before it returns
  * stays a plain `persist`/`unpersist` pair.
  *
  * `CacheScope { body }` releases (blocking) every frame persisted through
  * [[CacheScope.persist]] on this thread while `body` ran, also when `body`
  * throws. Scopes nest; each releases only its own frames. Outside any
  * scope a cache lives until the session evicts or clears it.
  *
  * Spark's CacheManager is keyed by plan: persisting a plan that is already
  * cached registers the existing entry, so the scope releases that shared
  * entry too when it exits.
  */
object CacheScope {

  private val open = new ThreadLocal[List[ArrayBuffer[Dataset[_]]]] {
    override def initialValue(): List[ArrayBuffer[Dataset[_]]] = Nil
  }

  /** `ds.persist(level)`, registered in the innermost open scope if any. */
  private[graft] def persist[T](ds: Dataset[T],
                                level: StorageLevel =
                                  StorageLevel.MEMORY_AND_DISK): Dataset[T] = {
    open.get.headOption.foreach(_ += ds)
    ds.persist(level)
  }

  def apply[T](body: => T): T = {
    val frames = ArrayBuffer.empty[Dataset[_]]
    open.set(frames :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      frames.foreach(_.unpersist(blocking = true))
    }
  }
}
