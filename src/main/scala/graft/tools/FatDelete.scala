package graft.tools

import org.apache.spark.sql.functions._
import graft.io.{DeleteVectors, SnapshotLog, Writers}
import graft.io.SnapshotLog.FileEntry

/** Fat-DELETE scale probe (VERDICT r13 #3 "done" criterion): a DV
  * delete at ≥30% victims through the DISTRIBUTIVE sidecar path must
  * keep driver state O(|files|) — the r13 driver-collect shape would
  * have funneled every position through the driver. Builds a bucketed
  * store from `documents`, DV-deletes doc_id % 2 == 0 (~50% of rows),
  * and prints victim count vs the driver-held annotation count (= the
  * writeSidecars return map size, bounded by |files|), plus wall
  * seconds. Not part of the driver contract.
  *
  * Usage: runMain graft.tools.FatDelete [sfDir ...]
  */
object FatDelete {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Session.local("graft-fatdelete")
    for (dir <- dirs; rep <- 1 to 2) {
      val store = java.nio.file.Files
        .createTempDirectory("graft_fatdel").toString + "/docs"
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"),
          pmod(col("doc_id"), lit(8)).cast("int").as("bucket"))
        .repartition(col("bucket")).write.mode("overwrite")
        .partitionBy("bucket").parquet(store)
      val files = {
        val kids = new java.io.File(store).listFiles()
        kids.toIndexedSeq.filter(f => f.isDirectory &&
            f.getName.startsWith("bucket="))
          .flatMap(d => Writers.listParquetFiles(d.toString)).sorted
      }
      SnapshotLog.commit(store, files)
      val t0 = System.nanoTime()
      val victims = spark.read.option("basePath", store)
        .parquet(files: _*)
        .filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"))
      val sidecars = DeleteVectors.writeSidecars(victims, store)
      val entries = files.map { f =>
        val plain = new org.apache.hadoop.fs.Path(f).toUri.getPath
        sidecars.get(plain) match {
          case Some(dv) => FileEntry(f, dv = Some(dv))
          case None => FileEntry(f)
        }
      }
      SnapshotLog.commitEntries(store, entries)
      val sec = (System.nanoTime() - t0) / 1e9
      val nVictims = sidecars.values
        .map(SnapshotLog.readDeleteVector(_).size.toLong).sum
      println(f"FATDEL $dir rep$rep files=${files.size} " +
        f"driver_annotations=${sidecars.size} victims=$nVictims " +
        f"${sec}%.3f s")
    }
    spark.stop()
  }
}
