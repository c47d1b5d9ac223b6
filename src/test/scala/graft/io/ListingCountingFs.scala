package graft.io

/** The local file system under its own `countfs` scheme, recording the
  * path of every `listStatus`, every metadata probe (`getFileStatus`, and
  * `exists`, which the local file system answers without it) and every
  * `open` — a statement's metadata-call budget. Register it on a session
  * with [[ListingCountingFs.register]] and address a store as
  * `countfs://<local dir>`; the scheme's bytes read are in
  * [[ListingCountingFs.bytesRead]].
  */
class ListingCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListingCountingFs.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    ListingCountingFs.probed.add(f.toUri.getPath)
    super.getFileStatus(f)
  }
  override def exists(f: org.apache.hadoop.fs.Path): Boolean = {
    ListingCountingFs.probed.add(f.toUri.getPath)
    super.exists(f)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    ListingCountingFs.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object ListingCountingFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val probed = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl", classOf[ListingCountingFs].getName)

  def clear(): Unit = { listed.clear(); opened.clear(); probed.clear() }

  /** Bytes read through the `countfs` scheme so far, by every thread. */
  @annotation.nowarn("cat=deprecation")
  def bytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "countfs").map(_.getBytesRead).sum
  }
}
