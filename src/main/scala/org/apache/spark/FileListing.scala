package org.apache.spark

/** Spark's own file-listing rule (`HadoopFSUtils` is private[spark],
  * so this shim lives in the spark package): true for the names a file
  * index skips — `_SUCCESS`, `.crc` and other `_`/`.` names except
  * partition directories and the `_metadata`/`_common_metadata`
  * summary files, and files still being copied.
  */
object FileListing {
  def skipped(name: String): Boolean = util.HadoopFSUtils.shouldFilterOutPathName(name)
}
