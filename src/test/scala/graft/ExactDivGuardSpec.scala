package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the truncating quotient defined once: outside `ExactDiv.scala`
  * no source under `src/main/scala` may spell a sign split by hand, in
  * Column code, in `expr` strings or in oracle SQL. Call
  * [[ExactDiv.quot]] / [[ExactDiv.quotSql]] instead.
  */
class ExactDivGuardSpec extends AnyFunSuite {

  private val Spellings = Seq(
    // when(n < 0, lit(-1L)).otherwise(lit(1L)) * …
    "Column sign" -> """lit\(-1L?\)(\.cast\([\w"]+\))?\)\s*\.otherwise\(lit\(1L?\)""",
    // signum(n).cast("long") * (abs(n) div d), cast(signum(n) as bigint) * …
    "signum product" ->
      """(?i)signum\((?:[^()]|\([^()]*\))*\)(\.cast\("long"\)|\s+as\s+bigint\))?\s*\*""",
    // sign(n) * (abs(n) // d)
    "SQL sign product" -> """(?i)\bsign\([\w.]+\)\s*\*\s*\(abs\(""",
    // (CASE WHEN n < 0 THEN -1 ELSE 1 END) * (abs(n) // d)
    "SQL CASE sign" -> """(?i)THEN\s+-1\s+ELSE\s+1\s+END""",
    // CASE WHEN n < 0 THEN -((-n) // d) ELSE n // d END
    "negated magnitude" -> """-\(\(-""")

  test("no hand-written sign-split division outside ExactDiv") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "ExactDiv.scala")
      .toSeq
    assert(files.size > 100)
    val hits = for {
      f <- files
      text = Files.readString(f)
      (name, re) <- Spellings
      m <- re.r.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1} ($name) ${m.matched}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("each spelling is caught") {
    val samples = Seq(
      """when(num < 0, lit(-1L)).otherwise(lit(1L)) * call_function("div", abs(num), d)""",
      """signum(col("n")).cast("long") * expr("abs(n) div d")""",
      """expr("cast(signum(bal) as bigint) * (abs(bal) div 100)")""",
      """CAST(sign(bal_c) * (abs(bal_c) // 100000) AS BIGINT)""",
      "(CASE WHEN n < 0 THEN -1\n  ELSE 1 END) * (abs(n) // d)",
      """CASE WHEN n < 0 THEN -((-n) // d) ELSE n // d END""")
    samples.foreach(s =>
      assert(Spellings.exists { case (_, re) => re.r.findFirstIn(s).isDefined }, s))
  }
}
