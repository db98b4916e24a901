package graft.io

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Footer-only parquet metadata reads — row counts without a Spark job.
  *
  * The persisted-index layouts ([[graft.ext.SubstrIndex]],
  * [[graft.ext.IvfStore]]) need the row count of an append dir they just
  * wrote to refresh the advisory stats their commit carries; re-scanning
  * the dir with `spark.read.parquet(...).count()` plans one extra job per
  * append (round-10 "What's wrong #3"). Parquet footers already carry the
  * exact count, and reading them is a driver-side metadata walk — zero
  * jobs, zero data pages.
  */
object ParquetMeta {

  /** Exact row count of every parquet file under `dir` (recursive), summed
    * from footers. Partition subdirectories (`cell=<c>/...`) are included.
    *
    * Footer opens run on a bounded driver-side pool: a partitioned append
    * fans out tasks × partition-values files, and opening each footer
    * serially was measured at ~14ms apiece — ~14s for the 1024 files a
    * 32-task × 32-bucket write produces, dwarfing the write itself.
    * Parallel opens keep the walk proportional to files/16.
    */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new HPath(dir)
    val fs = root.getFileSystem(conf)
    // a listStatus walk, not `listFiles`: the latter wraps each file in a
    // LocatedFileStatus, which on the local FS loads its permissions by
    // forking `ls -ld` once per file
    val files = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    def walk(d: HPath): Unit = fs.listStatus(d).foreach { s =>
      val name = s.getPath.getName
      if (s.isDirectory) walk(s.getPath)
      else if (!name.startsWith("_") && !name.startsWith(".")) files += s
    }
    walk(root)
    if (files.isEmpty) return 0L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[Long]] =
        files.map { st =>
          new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
              try r.getRecordCount finally r.close()
            }
          }: java.util.concurrent.Callable[Long]
        }.asJava
      pool.invokeAll(tasks).asScala.map { f =>
        // surface the underlying IO/parquet error, not the executor's
        // ExecutionException wrapper — callers see the same exception
        // shape the serial walk threw
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }.sum
    } finally pool.shutdown()
  }
}
