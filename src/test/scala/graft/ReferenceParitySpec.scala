package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.TextMR

/** Byte-for-byte parity with the reference framework's word count:
  * every input under the committed `wordcount/input` fixtures must
  * produce exactly its `wordcount/expected` file — the same diff the
  * reference's test.sh runs against the C implementation. The
  * fixtures cover the reference's edge cases (empty file, no trailing
  * newline, punctuation runs, repeated and mixed-case words), and
  * their expected outputs are pinned to an independent plain-Scala
  * count. When the C reference checkout is present, its own shipped
  * inputs and expected outputs are diffed as well. */
class ReferenceParitySpec extends SparkSpecBase {
  import ReferenceParitySpec._

  private val inDir = Paths.get("/root/reference/input/mr-wordc")
  private val cmpDir = Paths.get("/root/reference/output_compare/mr-wordc")

  private def parity(in: Path, cmp: Path): Unit = {
    val files = fileNames(in)
    assert(files.nonEmpty)
    files.foreach { f =>
      val got = TextMR.referenceFormat(
          TextMR.wordcountFile(spark, in.resolve(f).toString))
        .collect().map(_.getString(0)).toSeq
      val want = Files.readAllLines(cmp.resolve(f)).asScala.toSeq
      assert(got == want,
        s"$f: ${got.size} lines vs expected ${want.size}; " +
          s"first diff: ${got.zipAll(want, "<EOF>", "<EOF>").find(p => p._1 != p._2)}")
    }
  }

  test("wordcount matches the expected output for every fixture file") {
    parity(Input, Expected)
  }

  test("fixture expectations equal an independent plain-Scala count") {
    assert(fileNames(Input) == Seq("doc-0.txt", "doc-1.txt", "doc-2.txt",
      "doc-3.txt"))
    fileNames(Input).foreach { f =>
      val text = new String(Files.readAllBytes(Input.resolve(f)), "US-ASCII")
      val counts = "[A-Za-z0-9]+".r.findAllIn(text).toSeq
        .groupBy(identity).map { case (w, ws) => w -> ws.size }
      // byte order == String order on ASCII words
      val want = counts.toSeq.sortBy(_._1)
        .map { case (w, n) => s"$w, $n\n" }.mkString
      assert(new String(Files.readAllBytes(Expected.resolve(f)), "US-ASCII") ==
        want, f)
    }
  }

  if (Files.isDirectory(inDir))
    test("wordcount matches the reference checkout's expected output") {
      parity(inDir, cmpDir)
    }
}

object ReferenceParitySpec {
  private def resource(name: String): Path =
    Paths.get(getClass.getResource(s"/wordcount/$name").toURI)

  /** Word-count fixture inputs and their expected `word, count` files
    * (same file names). */
  val Input: Path = resource("input")
  val Expected: Path = resource("expected")

  def fileNames(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.toSeq
      .map(_.getFileName.toString).sorted
}
