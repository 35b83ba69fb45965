package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The caches one operator call persisted, released together.
  *
  * [[persist]] caches a frame and claims it only if this call cached it: a
  * frame the caller (or an earlier operator) already cached is read from
  * that cache but never released here. [[close]] unpersists exactly the
  * claimed frames. Lazy operators persist through their caller's scope,
  * and the caller closes it once the result is materialized;
  * self-materializing operators run in their own ([[CacheScope.materialized]]).
  */
final class CacheScope extends AutoCloseable {
  private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      owned += df
    }
    df
  }

  /** The frames this scope cached and will release, in persist order. */
  def claimed: Seq[DataFrame] = owned.toSeq

  def close(): Unit = {
    owned.foreach(_.unpersist(blocking = false))
    owned.clear()
  }
}

object CacheScope {

  /** The plan `build` returns, materialized ONCE by an eager local
    * checkpoint while the caches it persisted through a fresh scope are
    * filled, then released. Releasing them before the caller's first
    * action instead would make the returned lazy plan re-derive every
    * cached intermediate once per consumer. The checkpoint's blocks free
    * when the caller drops the result.
    */
  def materialized(build: CacheScope => DataFrame): DataFrame = {
    val scope = new CacheScope
    try build(scope).localCheckpoint()
    finally scope.close()
  }
}
