package graft

import graft.driver.DocumentsIndex
import graft.fixtures.CorpusGen
import java.io.File
import java.nio.file.{Files, Paths}

/** Private copies of the sf0.001 driver table for specs that build, tamper
  * with or cancel `DocumentsIndex` sub-indexes: each copy is a distinct sf
  * dir, so its sub-indexes live in their own cache dirs and never disturb
  * the shared ones the other suites read.
  */
object DocIdxFixture {
  val SrcSf = "/root/testdata/sf0.001"

  def available: Boolean = new File(s"$SrcSf/documents.parquet").exists()

  /** A new sf dir holding a copy of `documents.parquet` only. */
  def copy(name: String): String = {
    val dir = Files.createTempDirectory(s"graft_${name}_")
    Files.copy(Paths.get(SrcSf, "documents.parquet"), dir.resolve("documents.parquet"))
    dir.toString
  }

  /** Forget every memoized dir and reader of `sfDir`, as a fresh process
    * would: the resume rules (validate, else delete and rebuild) only run on
    * a memo miss. The memo is private state of `DocumentsIndex`, so this
    * clears, under the object's monitor, the entries of each of its mutable
    * maps whose key names `sfDir` or its cache-dir hash.
    */
  def forget(sfDir: String): Unit = {
    val tag = cacheTag(sfDir)
    DocumentsIndex.synchronized {
      DocumentsIndex.getClass.getDeclaredFields
        .filter(f => classOf[scala.collection.mutable.Map[_, _]].isAssignableFrom(f.getType))
        .foreach { f =>
          f.setAccessible(true)
          f.get(DocumentsIndex).asInstanceOf[scala.collection.mutable.Map[Any, Any]]
            .filterInPlace { case (k, _) => !(k.toString.contains(sfDir) || k.toString.contains(tag)) }
          ()
        }
    }
  }

  /** Every sub-index cache dir built for `sfDir`, at any partition count. */
  def cacheDirs(sfDir: String): Seq[File] =
    Option(new File("/tmp").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(s"graft_docidx_${cacheTag(sfDir)}"))

  /** Drop the memo entries, every cache dir built for `sfDir`, and the copy. */
  def cleanup(sfDir: String): Unit = {
    forget(sfDir)
    cacheDirs(sfDir).foreach(deleteTree)
    deleteTree(new File(sfDir))
  }

  private def cacheTag(sfDir: String): String = CorpusGen.sha256Hex(sfDir).substring(0, 12)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(); ()
  }
}
