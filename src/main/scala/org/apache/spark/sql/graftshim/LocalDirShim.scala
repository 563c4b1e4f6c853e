package org.apache.spark.sql.graftshim

import org.apache.spark.SparkConf
import org.apache.spark.util.Utils

/** Spark's own local-dir rule and recursive delete, both
  * `private[spark]`: the first configured local dir is the first
  * entry of SPARK_LOCAL_DIRS, else of `spark.local.dir`, else
  * java.io.tmpdir — where Spark itself puts shuffle and spill files,
  * so graft's disk artifacts land on the same disks. */
object LocalDirShim {
  def firstLocalDir(conf: SparkConf): String = Utils.getConfiguredLocalDirs(conf).head
  def deleteRecursively(f: java.io.File): Unit = Utils.deleteRecursively(f)
}
