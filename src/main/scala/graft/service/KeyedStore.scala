package graft.service

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Values computed from a table frame, kept so a later request reuses them
  * instead of running Spark again: a route's rendered response, or a
  * partial result several requests can be answered from.
  *
  * A value is served only while the frame it was computed from reads the
  * same files with the same length and modification time, so reuse never
  * returns an answer a fresh computation would not. Frames that read
  * anything other than files or local rows (JDBC, RDDs, streams) have no
  * such check and their values are never kept.
  *
  * Identical concurrent misses are single-flight: the first computes, the
  * rest wait for its value, or for its failure, which is then dropped —
  * failures are never kept. A waiter whose request the leader's value does
  * not cover computes in turn. The values are LRU-bounded by their weight:
  * what the caller says the value holds, plus the key's characters and a
  * fixed per-entry overhead; the file stamp is kept as a fixed-size digest,
  * so the weight does not depend on how many files a table has. A value
  * over 1/16 of the budget is returned but not kept. */
private[service] final class KeyedStore(budgetBytes: Long) {
  import KeyedStore._

  private val maxEntryBytes = budgetBytes / 16
  // access order: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var usedBytes = 0L // guarded by `entries`
  private val inFlight = new ConcurrentHashMap[Key, CompletableFuture[AnyRef]]()

  /** The value for `key`, computed over `frame`, and whether it was served
    * without running `compute` in this call (a kept value, or a concurrent
    * identical request's). A kept value `covers` rejects is computed again,
    * and the new value replaces it. `weigh` is the bytes a value holds. */
  def getOrCompute[V <: AnyRef](key: Key, frame: DataFrame, weigh: V => Long,
      covers: V => Boolean = (_: V) => true)(compute: => V): (V, Boolean) =
    lookup[V](key, frame).filter(covers) match {
      case Some(v) => (v, true)
      case None =>
        val mine = new CompletableFuture[AnyRef]()
        inFlight.putIfAbsent(key, mine) match {
          case null =>
            try {
              // a flight that ended between the lookup and putIfAbsent has
              // already kept its value (keep runs before its removal)
              val served = lookup[V](key, frame).filter(covers).map(_ -> true).getOrElse {
                val st = stamp(frame) // before computing: a file changed
                val v = compute       // mid-run leaves a stale stamp
                st.foreach(keep(key, v, weigh(v), _))
                v -> false
              }
              mine.complete(served._1)
              served
            } catch {
              case e: Throwable => mine.completeExceptionally(e); throw e
            } finally { inFlight.remove(key, mine); () }
          case leader =>
            val v = try leader.get().asInstanceOf[V]
            catch { case e: ExecutionException => throw e.getCause }
            if (covers(v)) v -> true
            else getOrCompute(key, frame, weigh, covers)(compute)
        }
    }

  /** The summed weight of the kept values. */
  def weight: Long = entries.synchronized(usedBytes)

  private def lookup[V](key: Key, frame: DataFrame): Option[V] = {
    val e = entries.synchronized(entries.get(key))
    if (e == null) None
    else if (stamp(frame).exists(java.util.Arrays.equals(_, e.stamp)))
      Some(e.value.asInstanceOf[V])
    else {
      entries.synchronized {
        if (entries.remove(key, e)) usedBytes -= e.weight
      }
      None
    }
  }

  private def keep(key: Key, value: AnyRef, bytes: Long, stamp: Array[Byte]): Unit =
    if (bytes <= maxEntryBytes) entries.synchronized {
      val e = Entry(value, stamp,
        bytes + 2L * (key.kind.length + key.request.length) + EntryOverhead)
      val old = entries.put(key, e)
      if (old != null) usedBytes -= old.weight
      usedBytes += e.weight
      val it = entries.values.iterator
      while (usedBytes > budgetBytes && it.hasNext) {
        usedBytes -= it.next().weight
        it.remove()
      }
    }
}

private[service] object KeyedStore {

  /** Bytes an entry holds besides its value and key characters: the map
    * node, the key, the entry, two string headers and the 32-byte stamp
    * digest (about 230 with compressed pointers). */
  private val EntryOverhead = 256L

  /** What a value is for (`kind`: a route, or a route's partial result),
    * the request it answers in canonical form, and its frame's number. */
  final case class Key(kind: String, request: String, frame: Long)

  private final case class Entry(value: AnyRef, stamp: Array[Byte], weight: Long)

  /** Numbers frames by plan semantics, so two reads of the same table get
    * one number, and keys hold no frame (whose file index lists every
    * file). One frame per distinct table read stays here; a caching
    * resolver such as `graft.core.Tables.table` holds it anyway. */
  final class Frames {
    private val ids = new ConcurrentHashMap[Frame, java.lang.Long]()
    private val next = new AtomicLong()
    def id(frame: DataFrame): Long =
      ids.computeIfAbsent(new Frame(frame), _ => next.incrementAndGet())
  }

  /** A frame compared by plan semantics; its files are compared by the
    * stamp. */
  private final class Frame(val df: DataFrame) {
    override val hashCode: Int = df.semanticHash()
    override def equals(o: Any): Boolean = o match {
      case f: Frame => (df eq f.df) || df.sameSemantics(f.df)
      case _ => false
    }
  }

  /** SHA-256 of (path, length, modification time) of every file `frame`
    * reads, in path order; None when the frame reads other sources or a
    * file is gone. */
  private def stamp(frame: DataFrame): Option[Array[Byte]] = {
    val leavesOk = frame.queryExecution.analyzed.collectLeaves().forall {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _: LocalRelation => true
      case _ => false
    }
    if (!leavesOk) None
    else {
      val conf = frame.sparkSession.sparkContext.hadoopConfiguration
      val md = MessageDigest.getInstance("SHA-256")
      try {
        frame.inputFiles.sorted.foreach { f =>
          val p = new Path(new java.net.URI(f))
          val st = p.getFileSystem(conf).getFileStatus(p)
          md.update(f.getBytes(UTF_8))
          md.update(ByteBuffer.allocate(17).put(0: Byte)
            .putLong(st.getLen).putLong(st.getModificationTime).array)
        }
        Some(md.digest())
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Canonical JSON: object keys sorted, no whitespace, and number types
    * kept — the Long 3 renders `3`, the Double 3.0 renders `3.0`, because
    * they plan differently against a string column. */
  def canonical(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => String.valueOf(k) -> x }.sortBy(_._1)
        .map { case (k, x) => "\"" + MiniJson.escape(k) + "\":" + canonical(x) }
        .mkString("{", ",", "}")
    case l: Iterable[_] => l.map(canonical).mkString("[", ",", "]")
    case s: String => "\"" + MiniJson.escape(s) + "\""
    case other => String.valueOf(other) // Long, Double, Boolean, null
  }
}
