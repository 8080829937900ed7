package graft.sources.catalog

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.functions.col

/** `Staging.landParts` called directly: what lands, in which order, which
  * FS calls it issues, and what a failed move leaves behind.
  */
class LandPartsSpec extends graft.SparkSpec {
  /** The local FS with list/rename/delete/mkdirs counted; renames fail
    * while `failRenames` is set. */
  private class CountingFs(under: FileSystem) extends FilterFileSystem(under) {
    var lists, renames, deletes, mkdirs = 0
    var failRenames = false
    override def listStatus(p: Path): Array[FileStatus] = { lists += 1; super.listStatus(p) }
    override def rename(s: Path, t: Path): Boolean = { renames += 1; !failRenames && super.rename(s, t) }
    override def delete(p: Path, r: Boolean): Boolean = { deletes += 1; super.delete(p, r) }
    override def mkdirs(p: Path): Boolean = { mkdirs += 1; super.mkdirs(p) }
    def calls: (Int, Int, Int, Int) = (lists, renames, deletes, mkdirs)
  }

  private def freshDir(): (CountingFs, Path) = {
    val raw = new Path(java.nio.file.Files.createTempDirectory("graft_land_").toString)
    val fs = raw.getFileSystem(spark.sessionState.newHadoopConf())
    (new CountingFs(fs), fs.makeQualified(raw))
  }

  private def stagingDirs(fs: FileSystem, d: Path): Seq[String] =
    fs.listStatus(d).toSeq.map(_.getPath.getName).filter(Staging.isStagingDir)

  test("flat: every part lands under its chosen name and the staging dir is gone") {
    val (fs, d) = freshDir()
    val landed = Staging.landParts(fs, d, "optimize", spark.range(0, 100).repartition(4).toDF())(
      p => s"opt-${p.token}-${p.name}")
    assert(fs.calls === ((1, 4, 1, 0)), "(lists, renames, deletes, mkdirs)")
    assert(landed.map(_._1) === Seq("") && landed.head._2.size === 4)
    assert(spark.read.parquet(landed.head._2.map(n => new Path(d, n).toString): _*)
      .count() === 100L)
    assert(stagingDirs(fs, d).isEmpty, "staging dir left behind")
  }

  test("partitioned: each group's parts land in part-name order, which is row order") {
    val (fs, d) = freshDir()
    val df = spark.range(0, 90).select((col("id") % 3).as("g"), col("id").as("r"))
      .repartition(3, col("g")).sortWithinPartitions("g", "r")
    // several parts per group, numbered sequentially by the writing task
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    val landed =
      try Staging.landParts(fs, d, "fold", df, Some("g"), g => Some(s"sub$g")) { p =>
        s"sub${p.group}/fold-${p.token}-${p.index}.parquet"
      } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    // the staging dir and each group dir listed once; one mkdirs per group
    assert(fs.calls === ((4, 15, 1, 3)), "(lists, renames, deletes, mkdirs)")
    assert(landed.map(_._1) === Seq("0", "1", "2"))
    landed.foreach { case (g, names) =>
      assert(names.size === 5, s"group $g: $names")
      val rows = names.flatMap(n =>
        spark.read.parquet(new Path(d, n).toString).collect().map(_.getLong(0)))
      assert(rows === (0L until 90L).filter(_ % 3 == g.toLong), s"group $g out of order")
    }
    assert(stagingDirs(fs, d).isEmpty, "staging dir left behind")
  }

  test("a failed move throws and leaves the staging dir for VACUUM") {
    val (fs, d) = freshDir()
    fs.failRenames = true
    val e = intercept[IllegalStateException] {
      Staging.landParts(fs, d, "delete", spark.range(0, 10).toDF())(p => s"del-${p.name}")
    }
    assert(e.getMessage.contains("delete: move"), e.getMessage)
    assert(fs.deletes === 0 && stagingDirs(fs, d).exists(_.startsWith("_delete_")))
  }
}
