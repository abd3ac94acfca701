package graft.queries

import org.apache.spark.sql.SparkSession

/** One named, one-time harness artifact per input dir — an ingest lake, a
 *  compacted store copy, a streamed replay — that oracle-checked queries
 *  read. The body runs at most once per dir: concurrent callers wait for
 *  the first, and a body that throws stores nothing, so the next call
 *  runs it again. A `driverHeavy` body (one that collects a table to the
 *  driver) runs under [[OracleCommon.ReplayGate]].
 *
 *  `Build(name)(body)` also registers the build in
 *  [[OracleCommon.builds]], which [[graft.Bench]] runs untimed before it
 *  times any query; `new Build` makes an unregistered one. */
final class Build[A](val name: String, driverHeavy: Boolean = false)(
    body: (SparkSession, String) => A) {

  private final class Slot { var value: Option[A] = None }
  private val slots = scala.collection.concurrent.TrieMap.empty[String, Slot]

  def apply(s: SparkSession, d: String): A = {
    val slot = slots.getOrElseUpdate(d, new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        val v = if (!driverHeavy) body(s, d) else {
          OracleCommon.ReplayGate.acquire()
          try body(s, d) finally OracleCommon.ReplayGate.release()
        }
        slot.value = Some(v)
        v
      }
    }
  }
}

object Build {
  def apply[A](name: String, driverHeavy: Boolean = false)(
      body: (SparkSession, String) => A): Build[A] = {
    val b = new Build(name, driverHeavy)(body)
    OracleCommon.register(b)
    b
  }
}
