package graft.service

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame

/** The dashboard routes' reuse, over one [[KeyedStore]]: rendered
  * responses, kept so a repeated request is answered without planning,
  * codegen or a Spark job, and the partial results a route keeps so a
  * request it has not seen is answered from what an earlier one computed.
  *
  * A response is keyed by its route, its canonical JSON and the frame its
  * table resolved to; a partial result by its kind, the part of the
  * request it depends on and the frame. Both are served only while the
  * frame's files are unchanged, share single flight, and share the one
  * LRU budget (see [[KeyedStore]]). */
private[service] final class ResponseCache(entries: KeyedStore, frames: KeyedStore.Frames) {

  def this(budgetBytes: Long) = this(new KeyedStore(budgetBytes), new KeyedStore.Frames)

  /** The bytes for `request` on `route` over `frame`, and whether they were
    * served without running `compute` in this call (a kept entry, or a
    * concurrent identical request's result). */
  def getOrCompute(route: String, request: Any, frame: DataFrame)(
      compute: => Array[Byte]): (Array[Byte], Boolean) =
    reuse[Array[Byte]](route, request, frame, _.length.toLong)(compute)

  /** A partial result of `kind` for `request` over `frame`; one kept that
    * `covers` rejects is computed again and replaced. */
  def reuse[V <: AnyRef](kind: String, request: Any, frame: DataFrame,
      weigh: V => Long, covers: V => Boolean = (_: V) => true)(
      compute: => V): (V, Boolean) =
    entries.getOrCompute(
      KeyedStore.Key(kind, KeyedStore.canonical(request), frames.id(frame)),
      frame, weigh, covers)(compute)

  /** The summed weight of the kept responses and partial results. */
  private[service] def weight: Long = entries.weight
}

private[service] object ResponseCache {

  /** The first rows of an ordered result rendered `to_json`, `fetched` of
    * them asked for: fewer came back only when the result has no more. */
  final case class Prefix(rows: Array[String], fetched: Int) {
    /** Whether the first `n` rows of the result are all here. */
    def covers(n: Int): Boolean = n <= fetched || rows.length < fetched
    /** A string's header and length field, and two bytes per character. */
    def weight: Long = rows.foldLeft(0L)(_ + 40L + 2L * _.length)
  }

  /** The reference's response envelope up to its last field,
    * `query_time_ms`, over rows already rendered `to_json`: at most
    * `maxRows` of them, with `"truncated": true` when there were more. */
  def envelopeHead(rows: Array[String], maxRows: Int): Array[Byte] = {
    val truncated = rows.length > maxRows
    val out = if (truncated) rows.take(maxRows) else rows
    ("{\"data\":" + out.mkString("[", ",", "]") +
      ",\"row_count\":" + out.length +
      (if (truncated) ",\"truncated\":true" else "")).getBytes(UTF_8)
  }
}
