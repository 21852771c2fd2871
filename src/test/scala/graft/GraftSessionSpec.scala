package graft

import org.scalatest.funsuite.AnyFunSuite

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

/** The bench's data-proportional shuffle width, over temp dirs (no Spark
  * job): one partition per 2 MB of input, never below the floor, at most
  * 1024.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val MB = 1L << 20

  /** A temp dir holding `files` (relative path -> length); the files are
    * sparse, so a multi-GB length costs no disk.
    */
  private def withDir(files: (String, Long)*)(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_session_spec").toFile
    try {
      files.foreach { case (rel, len) =>
        val f = new File(dir, rel)
        f.getParentFile.mkdirs()
        val raf = new RandomAccessFile(f, "rw")
        try raf.setLength(len) finally raf.close()
      }
      body(dir)
    } finally {
      def rm(f: File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }

  test("a directory-style table nested one level down counts its bytes") {
    // Spark-written tables hold their parts inside <t>.parquet/; a flat
    // listing would see only the directory entry and fall to the floor
    withDir(
      "lineitem.parquet/part-00000.parquet" -> 40 * MB,
      "lineitem.parquet/part-00001.parquet" -> 20 * MB,
      "orders.parquet" -> 4 * MB) { dir =>
      assert(GraftSession.initialShufflePartitions(dir.getPath, 4) == 32)
    }
  }

  test("small input stays at the floor") {
    withDir("region.parquet" -> 3 * MB) { dir =>
      assert(GraftSession.initialShufflePartitions(dir.getPath, 4) == 4)
    }
  }

  test("the width is capped at 1024") {
    withDir("lineitem.parquet/part-00000.parquet" -> 3L * 1024 * MB) { dir =>
      assert(GraftSession.initialShufflePartitions(dir.getPath, 4) == 1024)
    }
  }

  test("a missing dir gives the floor") {
    withDir() { dir =>
      assert(GraftSession.initialShufflePartitions(new File(dir, "absent").getPath, 7) == 7)
    }
  }
}
