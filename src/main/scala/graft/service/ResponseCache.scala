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

/** Rendered responses of the dashboard routes, kept so a repeated request is
  * answered without planning, codegen or a Spark job.
  *
  * A request is keyed by its route, its canonical JSON and the frame its
  * table resolved to. An entry is served only while that frame reads the
  * same files with the same length and modification time, so a hit never
  * returns an answer a fresh computation would not. Frames that read
  * anything other than files or local rows (JDBC, RDDs, streams) have no
  * such check and are never kept.
  *
  * Identical concurrent misses are single-flight: the first computes, the
  * rest wait for its bytes, or for its failure, which is then dropped —
  * failures are never kept. The entries are LRU-bounded by their weight:
  * the rendered bytes plus the key's characters and a fixed per-entry
  * overhead; the file stamp is kept as a fixed-size digest, so the weight
  * does not depend on how many files a table has. A response over 1/16 of
  * the budget is served but not kept. */
private[service] final class ResponseCache(budgetBytes: Long) {
  import ResponseCache._

  private val maxEntryBytes = budgetBytes / 16
  // access order: iteration starts at the least recently used entry
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var usedBytes = 0L // guarded by `entries`
  private val inFlight = new ConcurrentHashMap[Key, CompletableFuture[Array[Byte]]]()
  // Keys name a frame by number, so an entry holds no frame (whose file
  // index lists every file). One frame per distinct table read stays here;
  // a caching resolver such as `graft.core.Tables.table` holds it anyway.
  private val frames = new ConcurrentHashMap[Frame, java.lang.Long]()
  private val frameIds = new AtomicLong()

  /** The bytes for `request` on `route` over `frame`, and whether they were
    * served without running `compute` in this call (a kept entry, or a
    * concurrent identical request's result). */
  def getOrCompute(route: String, request: Any, frame: DataFrame)(
      compute: => Array[Byte]): (Array[Byte], Boolean) = {
    val key = Key(route, canonical(request),
      frames.computeIfAbsent(new Frame(frame), _ => frameIds.incrementAndGet()))
    lookup(key, frame) match {
      case Some(bytes) => (bytes, true)
      case None =>
        val mine = new CompletableFuture[Array[Byte]]()
        inFlight.putIfAbsent(key, mine) match {
          case null =>
            try {
              // a flight that ended between the lookup and putIfAbsent has
              // already kept its entry (keep runs before its removal)
              val served = lookup(key, frame).map(_ -> true).getOrElse {
                val st = stamp(frame) // before computing: a file changed
                val bytes = compute   // mid-run leaves a stale stamp
                st.foreach(keep(key, bytes, _))
                bytes -> false
              }
              mine.complete(served._1)
              served
            } catch {
              case e: Throwable => mine.completeExceptionally(e); throw e
            } finally { inFlight.remove(key, mine); () }
          case leader =>
            try leader.get() -> true
            catch { case e: ExecutionException => throw e.getCause }
        }
    }
  }

  /** The summed weight of the kept entries. */
  private[service] def weight: Long = entries.synchronized(usedBytes)

  private def lookup(key: Key, frame: DataFrame): Option[Array[Byte]] = {
    val e = entries.synchronized(entries.get(key))
    if (e == null) None
    else if (stamp(frame).exists(java.util.Arrays.equals(_, e.stamp))) Some(e.bytes)
    else {
      entries.synchronized {
        if (entries.remove(key, e)) usedBytes -= e.weight
      }
      None
    }
  }

  private def keep(key: Key, bytes: Array[Byte], stamp: Array[Byte]): Unit =
    if (bytes.length <= maxEntryBytes) entries.synchronized {
      val e = Entry(bytes, stamp,
        bytes.length + 2L * (key.route.length + key.request.length) + EntryOverhead)
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

private[service] object ResponseCache {

  /** Bytes an entry holds besides its body and key characters: the map
    * node, the key, the entry, three array and string headers and the
    * 32-byte stamp digest (about 230 with compressed pointers). */
  private val EntryOverhead = 256L

  private final case class Key(route: String, request: String, frame: Long)

  private final case class Entry(bytes: Array[Byte], stamp: Array[Byte], weight: Long)

  /** A frame compared by plan semantics, so two reads of the same table
    * match; their files are compared by the stamp. */
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
  private def canonical(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => String.valueOf(k) -> x }.sortBy(_._1)
        .map { case (k, x) => "\"" + MiniJson.escape(k) + "\":" + canonical(x) }
        .mkString("{", ",", "}")
    case l: Iterable[_] => l.map(canonical).mkString("[", ",", "]")
    case s: String => "\"" + MiniJson.escape(s) + "\""
    case other => String.valueOf(other) // Long, Double, Boolean, null
  }
}
