package org.apache.spark.graft

import java.nio.file.Files

import org.apache.spark.util.ShutdownHookManager

/** Temp directories that live as long as this JVM. Spark's
  * `ShutdownHookManager` is private[spark]; its hook deletes registered
  * directories after the SparkContext has stopped. Same bridge pattern as
  * [[ListenerBridge]].
  */
object TempDirs {

  /** A new directory under `java.io.tmpdir` whose name starts with
    * `prefix`; it is deleted, with everything in it, when the JVM exits.
    */
  def forJvm(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    ShutdownHookManager.registerShutdownDeleteDir(dir)
    dir.getPath
  }
}
