package org.apache.spark.graftbridge

import org.apache.spark.util.HadoopFSUtils

/** Bridge into `private[spark]` file listing (see `ListenerBridge`): the
  * name rule Spark's file index applies to every file and directory it
  * lists, so driver-side code picks from the same files a scan reads.
  */
object ListingBridge {
  /** True for a name Spark's listing skips: hidden (`_` or `.` prefix,
    * unless a `_k=v` partition or a Parquet summary file) or `._COPYING_`.
    */
  def skipped(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
