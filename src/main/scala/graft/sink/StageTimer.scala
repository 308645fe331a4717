package graft.sink

/** Named wall-clock stage timer: the per-stage ms of one
  * [[graft.streaming.SinkPipeline.processBatch]] or
  * [[KeyedParquetTable.applyBatch]] call. Repeated names accumulate;
  * thread-safe. */
final class StageTimer {
  private val ms = scala.collection.mutable.LinkedHashMap[String, Long]()

  /** Run `f`, adding its wall ms to stage `name`. */
  def apply[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally add(name, (System.nanoTime() - t0) / 1000000L)
  }

  /** Fold an externally measured duration into stage `name`. */
  def add(name: String, took: Long): Unit = synchronized {
    ms += name -> (ms.getOrElse(name, 0L) + took)
  }

  def toMap: Map[String, Long] = synchronized { ms.toMap }
}
