package graft.sources

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one home of state derived from a table snapshot, which
  * [[Tables.stamp]] names: the mtime of the table's directory.
  *
  *  - In memory, a [[Memo]] keeps one entry per key at the stamp it was
  *    built at (`Tables`' relations, the IVF centroids, PQ codebook,
  *    SQ8 scale and BPE merges; `Tuned`'s derived sessions, whose confs
  *    follow their parent's, under a constant stamp).
  *  - On disk, an [[artifact]] keeps one generation directory per
  *    (family, dataset), holding every file the artefact owns (the ANN
  *    indexes, the KV ingest log and its checkpoint, the KV backup
  *    chain, the KV value index).
  *  - Every other operator state path is built from [[Root]].
  */
object State {

  /** The directory every operator keeps its state under: `target`
    * below the working directory, as with Spark's `spark-warehouse`
    * (the checkout's own `target/` under sbt and the tools); absolute,
    * since the oracles of q24, q52 and q62 embed paths below it. */
  val Root: String = new File("target").getAbsolutePath

  /** One value per key, built at a stamp and replaced by the first
    * lookup that brings another stamp. A lookup whose stamp matches
    * takes no lock. The build runs once per (key, stamp) under a lock
    * of that entry only, so lookups on other keys never wait for it; a
    * build that throws leaves no entry. Keys are held strongly,
    * sessions included. */
  final class Memo[K, S, V] {
    private final class Slot(val stamp: S) {
      @volatile var value: Option[V] = None
    }

    private val slots = new ConcurrentHashMap[K, Slot]()

    def apply(key: K, stamp: S)(build: => V): V = {
      val cur = slots.get(key)
      val slot =
        if (cur != null && cur.stamp == stamp) cur
        else slots.compute(key, (_, old) =>
          if (old != null && old.stamp == stamp) old else new Slot(stamp))
      slot.value.getOrElse(slot.synchronized {
        if (slot.value.isEmpty)
          try slot.value = Some(build)
          catch { case t: Throwable => slots.remove(key, slot); throw t }
        slot.value.get
      })
    }

    /** The keys that hold an entry now. */
    private[graft] def keys: Seq[K] = slots.keySet.asScala.toSeq
  }

  /** The generation directory of a `family` artefact derived from table
    * `table` of `dir`:
    * `Root/graft_<family>/<sanitized dir>_<md5(dir)>_<format>_<stamp>`.
    * The sanitized dir alone is not injective (`/a/sf-1` and `/a/sf.1`
    * both give `_a_sf_1`), so the digest of the raw path names the
    * dataset; `format` names what the files mean, so a build that
    * changes it never reads an older build's files. */
  def path(family: String, dir: String, table: String, format: String): String =
    s"$Root/graft_$family/${dataset(dir)}${sanitized(format)}_${Tables.stamp(dir, table)}"

  // the name prefix every generation of `dir`'s artefacts shares
  private def dataset(dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${sanitized(dir)}_${digest}_"
  }

  private def sanitized(s: String): String = s.replaceAll("[^A-Za-z0-9]", "_")

  private val building = new Object

  /** The current generation ([[path]]) of an on-disk artefact. Under one
    * lock for all artefacts, it calls `ensure` with the generation's
    * path; `ensure` checks the artefact's own completeness marker,
    * builds whatever is missing, and writes only inside the generation.
    * A call that starts a new generation (a new stamp or format) first
    * removes the family's other generations of the same dataset, so a
    * call at the current generation deletes nothing. */
  def artifact(family: String, dir: String, table: String, format: String)(
      ensure: String => Unit): String = {
    val gen = new File(path(family, dir, table, format))
    building.synchronized {
      if (!gen.exists())
        Option(gen.getParentFile.listFiles()).getOrElse(Array.empty[File])
          .filter(_.getName.startsWith(dataset(dir)))
          .foreach(LocalDir.deleteRecursively)
      ensure(gen.getPath)
    }
    gen.getPath
  }
}
