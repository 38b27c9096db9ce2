package graft.util

import java.io.File
import java.nio.file.{Files, Path}

/** Throwaway directories that live until the JVM exits: a harness
  * stream's checkpoint or sink, a spec's fixture corpus. Each
  * directory [[create]] makes is deleted, with everything in it, by
  * one shutdown hook. Symbolic links inside are removed, never
  * followed.
  */
object ScratchDirs {

  /** A new directory named `prefix` plus a random suffix, under
    * `parent` or else the JVM's default temporary directory.
    */
  def create(prefix: String, parent: Option[Path] = None): Path = {
    val d = parent.fold(Files.createTempDirectory(prefix))(Files.createTempDirectory(_, prefix))
    dirs.add(d.toFile)
    d
  }

  private val dirs = {
    val set = java.util.concurrent.ConcurrentHashMap.newKeySet[File]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      set.forEach(d => { org.apache.commons.io.FileUtils.deleteQuietly(d); () })))
    set
  }
}
