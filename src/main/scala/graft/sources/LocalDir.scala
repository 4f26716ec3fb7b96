package graft.sources

import java.io.File

/** Local-filesystem lifecycle helper shared by the on-disk state
  * directories ([[State.artifact]] generations, kv.KVLog). On a cluster
  * these layouts live on HDFS/object storage and lifecycle is the
  * catalog's job; locally the builders clean up after themselves.
  */
object LocalDir {

  /** Recursive delete; tolerant of concurrent removal (null
    * `listFiles`) — best-effort, like the index rebuilds that use it. */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
