package graft.engine

import java.nio.file.{Files, Path}

/** JVM-exit cleanup registry for on-disk temp artifacts. One shared
  * shutdown hook drains a queue of pending paths (a hook PER artifact
  * would retain one Thread each across a long bench session).
  *
  * Per-call dirs ([[tempDir]]: the sink round-trip dirs, the upsert and
  * forget stores, ScaleBench's scale dirs) register by prefix, replacing
  * and deleting the previous dir of that prefix, so iterating a query
  * holds at most one live dir per prefix. Memo-owned dirs ([[ownedDir]],
  * only through [[SessionMemo.dir]]) register by path, so nothing
  * replaces them: memo eviction (or JVM exit) alone releases them.
  */
private[graft] object TempArtifacts {
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[String, Path]

  private[graft] def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  locally {
    sys.addShutdownHook {
      pending.values.forEach(d => rm(d.toFile))
    }: Unit
  }

  /** Create and register a per-call temp dir under `prefix`, deleting
    * the previous dir registered under the same prefix.
    */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    Option(pending.put(prefix, dir)).foreach(d => rm(d.toFile))
    dir.toString
  }

  /** Create a fresh, uniquely named dir under `prefix`, registered for
    * JVM-exit deletion under its own path, so no later call replaces it.
    */
  private[engine] def ownedDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    pending.put(dir.toString, dir)
    dir.toString
  }

  /** Delete a dir now and drop it from the exit queue (the artifact's
    * owner is going away before JVM exit).
    */
  def delete(path: String): Unit = {
    pending.values.removeIf(_.toString == path): Unit
    rm(new java.io.File(path))
  }
}
