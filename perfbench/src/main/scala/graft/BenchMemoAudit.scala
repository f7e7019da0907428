package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** Read access to [[SessionMemo]]'s package-private audit logs, so the
  * benchmark can count memo builds and accesses without changing the
  * program. Draining empties the logs; nothing else in a benchmark
  * process reads them. */
object BenchMemoAudit {
  /** Memo builds that ran since the last drain: (key, self seconds). */
  def drainBuilds(): Seq[(String, Double)] = SessionMemo.drainBuildLog()

  /** Frame accesses (hit or build) since the last drain, by key. */
  def drainFrameAccesses(): Seq[String] = SessionMemo.drainFrameAccessLog()

  private lazy val values = {
    val f = SessionMemo.getClass.getDeclaredField("values")
    f.setAccessible(true)
    f.get(null).asInstanceOf[TrieMap[(SparkSession, String, String), AnyRef]]
  }

  /** The table entries (`table:` keys, which both audit logs leave out)
    * that `spark` holds now, by dir and key, with the memoized value. An
    * entry that appears, or whose value is replaced, during a call was
    * built by it. Read by reflection: the memo map is private to
    * SessionMemo. */
  def tableEntries(spark: SparkSession): Map[String, AnyRef] =
    values.readOnlySnapshot().collect {
      case ((s, dir, key), v) if (s eq spark) && key.startsWith("table:") => s"$dir/$key" -> v
    }.toMap
}
