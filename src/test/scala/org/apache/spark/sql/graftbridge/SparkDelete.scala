package org.apache.spark.sql.graftbridge

/** The recursive delete `SparkEnv.stop` runs on the context's temp
  * dir (`Utils` is `private[spark]`), for tests that check what it removes. */
object SparkDelete {
  def deleteRecursively(f: java.io.File): Unit = org.apache.spark.util.Utils.deleteRecursively(f)
}
