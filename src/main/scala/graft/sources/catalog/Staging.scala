package graft.sources.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame

/** Write-then-publish for catalog rewrites: the one place a rewrite's data
  * files reach the table directory. Parts land under unique names BEFORE
  * the manifest that references them commits, so a crash mid-move leaves
  * unreferenced files and a staging dir (which VACUUM reclaims), never a
  * torn version: atomicity lives entirely in the create-exclusive manifest
  * write. On the reference's store every list, rename and delete is a
  * round trip and rename is copy-then-delete, so the sequence is minimal.
  */
object Staging {
  /** Rewrites staging through [[landParts]], each into `_<kind>_<token>`. */
  val Kinds: Seq[String] = Seq("rename", "delete", "fold", "optimize", "purge")

  /** A rewrite's staging dir, or the parquet committer's `_temporary`. */
  def isStagingDir(name: String): Boolean =
    name == "_temporary" || Kinds.exists(k => name.startsWith(s"_${k}_"))

  /** A staged part: the rewrite's token, its group's partition value (""
    * when flat), its rank in part-name order within the group, its name. */
  final case class Part(token: String, group: String, index: Int, name: String)

  /** Writes `df` into `d/_<kind>_<token>`, partitioned by `partitionBy` if
    * given, and lists it once (and each group dir once). Moves each
    * group's parquet parts, in part-name order, to the table-relative
    * names `target` chooses, after creating the group's `groupDir` if
    * defined. Removes the staging dir and returns each group's landed
    * names, groups in name order. A failed move throws and leaves the
    * staging dir for VACUUM. Part-name order is row order (the writing
    * task numbers its files sequentially): fold and purge rely on it.
    */
  def landParts(fs: FileSystem, d: Path, kind: String, df: DataFrame,
      partitionBy: Option[String] = None,
      groupDir: String => Option[String] = _ => None)(
      target: Part => String): Seq[(String, Seq[String])] = {
    require(Kinds.contains(kind), s"unknown staging kind '$kind'")
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(d, s"_${kind}_$token")
    val w = df.write.mode("overwrite")
    partitionBy.fold(w)(w.partitionBy(_)).parquet(tmp.toString)
    val groups = partitionBy match {
      case None => Seq("" -> tmp)
      case Some(c) => fs.listStatus(tmp).toIndexedSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$c="))
        .map(s => s.getPath.getName.stripPrefix(s"$c=") -> s.getPath)
        .sortBy(_._1)
    }
    val landed = groups.map { case (g, dir) =>
      groupDir(g).foreach(sub => fs.mkdirs(new Path(d, sub)))
      g -> fs.listStatus(dir).toIndexedSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).zipWithIndex.map { case (f, j) =>
          val name = target(Part(token, g, j, f.getPath.getName))
          val dst = new Path(d, name)
          if (!fs.rename(f.getPath, dst))
            throw new IllegalStateException(s"$kind: move ${f.getPath} -> $dst failed")
          name
        }
    }
    fs.delete(tmp, true)
    landed
  }

  /** Rewrites each file of `originals` as twins placed beside it (in the
    * table root when `inRoot`, so the path-based pruner keeps judging them
    * by the same spec). `rows` holds the surviving rows, each with its
    * original's `keyOf` key in `keyCol` and its row index there in
    * `rowCol`; each original's rows land in row order as
    * `<kind>-<token>-<i>-<j>.parquet`. A twin keeps its original's row
    * order, so it inherits its sort-order provenance: twins of unproven
    * originals are re-marked. Returns original -> twins (none when all
    * its rows went).
    */
  private[catalog] def landTwins(fs: FileSystem, d: Path, kind: String,
      rows: DataFrame, keyCol: String, rowCol: String, originals: Seq[String],
      keyOf: String => String, inRoot: String => Boolean = _ => false)
      : Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions.{col, element_at, typedLit}
    val pidOf = originals.zipWithIndex.map { case (f, i) => keyOf(f) -> i }.toMap
    require(pidOf.size == originals.size, s"$kind: dir/name keys are not unique " +
      s"(${originals.size} files, ${pidOf.size} distinct keys)")
    val frame = rows
      .withColumn("__graft_pid", element_at(typedLit(pidOf), col(keyCol)))
      .repartition(math.max(originals.size, 1), col("__graft_pid"))
      .sortWithinPartitions(col("__graft_pid"), col(rowCol))
      .drop(keyCol, rowCol, "_metadata")
    val twins = landParts(fs, d, kind, frame, Some("__graft_pid")) { p =>
      val old = originals(p.group.toInt)
      val slash = old.lastIndexOf('/')
      val dir = if (inRoot(old) || slash <= 0) "" else old.substring(0, slash + 1)
      s"$dir$kind-${p.token}-${p.group}-${p.index}.parquet"
    }.map { case (g, names) => originals(g.toInt) -> names }.toMap
    GraftStagingCatalog.sortOrderUnproven(fs, d).foreach { case (_, unproven) =>
      GraftStagingCatalog.markUnsorted(fs, d,
        twins.iterator.collect { case (o, ts) if unproven(o) => ts }.flatten.toSeq)
    }
    twins
  }
}
