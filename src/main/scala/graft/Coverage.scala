package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** COVERAGE.md query-inventory generator — the registry table can never
  * drift from `SparkEntry.queries` again (the prose inventory's count
  * drifted twice before it was pinned to the jar recount; this emits
  * the table FROM the registry the jar was built from).
  *
  * `sbt -batch "runMain graft.Coverage"` rewrites the block between the
  * BEGIN/END markers in COVERAGE.md in place:
  *   - one row per registry query (name, implementing module, specs
  *     that mention it, oracle presence, correctness status);
  *   - module = the first project object a registry val's body calls
  *     into (parsed from the registry sources; "Queries (inline)" when
  *     the val is self-contained);
  *   - specs = test files whose source mentions the query name;
  *   - correctness = rows/schema/hash verdict from the newest
  *     CORRECTNESS_r*.json, whose name is recorded in the block header
  *     (driver-written history; "—" before the first driver round).
  *
  * CoverageSpec asserts the committed block's row set equals the
  * registry, so a registry change without regeneration fails the suite.
  */
object Coverage {

  private val Begin = "<!-- BEGIN GENERATED QUERY TABLE -->"
  private val End = "<!-- END GENERATED QUERY TABLE -->"

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** All `object X` names in src/main mapped to their defining file —
    * the whitelist for module attribution.
    */
  private def projectObjects(root: Path): Map[String, String] = {
    val objRe = """(?m)^\s*(?:private\s+)?(?:final\s+)?object\s+([A-Za-z0-9_]+)""".r
    Files
      .walk(root.resolve("src/main/scala"))
      .iterator()
      .asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val rel = root.relativize(p).toString
        objRe.findAllMatchIn(read(p)).map(m => m.group(1) -> rel)
      }
      .toMap
  }

  /** Registry-source text: each `val name: Q = <body>` up to the next
    * val/def/comment-block, keyed by val name.
    */
  private def valBodies(src: String): Map[String, String] = {
    val starts = """(?m)^\s{2}(?:private\s+)?val\s+([A-Za-z0-9_]+)(?::\s*Q)?\s*=""".r
      .findAllMatchIn(src)
      .map(m => (m.group(1), m.start))
      .toVector
    starts.zipWithIndex.map { case ((name, s), i) =>
      val e = if (i + 1 < starts.length) starts(i + 1)._2 else src.length
      name -> src.substring(s, e)
    }.toMap
  }

  /** query key -> (module file, Object.function entry point), via the
    * registry entry `QueryDef("key", valName, ...)` and the first
    * project-object call inside that val's body.
    */
  private def entryOf(
      key: String,
      bodies: Map[String, String],
      keyToVal: Map[String, String],
      objects: Map[String, String]
  ): Option[(String, String, String)] =
    keyToVal.get(key).flatMap(bodies.get).flatMap { body =>
      val callRe = """([A-Z][A-Za-z0-9]*)\.([a-z][A-Za-z0-9]*)""".r
      callRe
        .findAllMatchIn(body)
        .map(m => (m.group(1), m.group(2)))
        .find { case (o, _) => objects.contains(o) && o != "Queries" && o != "OpsQueries" }
        .map { case (o, f) => (objects(o), o, f) }
    }

  private def keyToValMap(src: String): Map[String, String] =
    """QueryDef\("([a-z0-9_]+)",\s*([A-Za-z0-9_]+)""".r
      .findAllMatchIn(src)
      .map(m => (m.group(1), m.group(2)))
      .toMap

  /** All test sources, read once. */
  private def testSources(root: Path): Seq[(String, String)] =
    Files
      .walk(root.resolve("src/test/scala"))
      .iterator()
      .asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => (p.getFileName.toString.stripSuffix(".scala"), read(p)))
      .toSeq
      .sortBy(_._1)

  /** Spec files covering a query: those that mention the query name
    * literally OR drive its implementing entry point (`Obj.func`) —
    * specs test the operator function, not the registry key string.
    */
  private def specsOf(
      tests: Seq[(String, String)],
      name: String,
      entry: Option[(String, String, String)]
  ): Seq[String] = {
    val nameNeedle = "\"" + name + "\""
    val fnNeedle = entry.map { case (_, o, f) => s"$o.$f" }
    tests.collect {
      case (spec, src) if src.contains(nameNeedle) || fnNeedle.exists(src.contains) => spec
    }
  }

  /** (artifact name, name -> status) from the newest CORRECTNESS_r*.json.
    * Minimal JSON poke — each entry is flat with three booleans; a full
    * parser would be a dependency this zero-egress build doesn't have.
    */
  private def correctness(root: Path): (String, Map[String, String]) = {
    val files = Files
      .list(root)
      .iterator()
      .asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("CORRECTNESS_r") && n.endsWith(".json"))
      .toSeq
      .sorted
    files.lastOption match {
      case None => ("—", Map.empty)
      case Some(f) =>
        val txt = read(root.resolve(f))
        val entry =
          """"([a-z0-9_]+)\.parquet"\s*:\s*\{([^}]*)\}""".r
        val m = entry.findAllMatchIn(txt).map { mm =>
          val body = mm.group(2)
          def flag(k: String) = body.contains(s""""$k": true""")
          val ok = flag("rows_match") && flag("schema_match") && flag("hash_match")
          mm.group(1) -> (if (ok) "pass" else "FAIL")
        }.toMap
        (f, m)
    }
  }

  /** The generated block (between markers), from live registry state. */
  def render(root: Path): String = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val oracle = SparkEntry.oracleSql.keySet
    val objects = projectObjects(root)
    val qSrc = read(root.resolve("src/main/scala/graft/queries/Queries.scala"))
    val oSrc = read(root.resolve("src/main/scala/graft/queries/OpsQueries.scala"))
    val bodies = valBodies(qSrc) ++ valBodies(oSrc)
    val keyToVal = keyToValMap(qSrc) ++ keyToValMap(oSrc)
    val tests = testSources(root)
    val (corrFile, corr) = correctness(root)
    val sb = new StringBuilder
    sb ++= Begin += '\n'
    sb ++= s"Registry at generation time: **${names.size} queries / ${names.count(oracle)} full SQL oracles**"
    sb ++= s" (authoritative count: `SparkEntry.queries.size`); correctness column from `$corrFile`.\n"
    sb ++= s"Regenerate with `sbt -batch \"runMain graft.Coverage\"` after any registry change"
    sb ++= " (CoverageSpec fails the suite when this table drifts from the registry).\n\n"
    sb ++= "| query | module | specs | oracle | correctness |\n"
    sb ++= "|---|---|---|---|---|\n"
    names.foreach { n =>
      val entry = entryOf(n, bodies, keyToVal, objects)
      val mod = entry
        .map { case (file, o, f) => s"`$file` (`$o.$f`)" }
        .getOrElse("registry-inline")
      val specs = specsOf(tests, n, entry) match {
        case Nil => "—"
        case s   => s.mkString(", ")
      }
      val orc = if (oracle(n)) "full SQL" else "rows-only"
      val st = corr.getOrElse(n, "—")
      sb ++= s"| `$n` | $mod | $specs | $orc | $st |\n"
    }
    sb ++= End
    sb.result()
  }

  /** Names present in the committed COVERAGE.md block — what CoverageSpec
    * compares against the registry.
    */
  def committedNames(root: Path): Seq[String] = {
    val txt = read(root.resolve("COVERAGE.md"))
    val s = txt.indexOf(Begin)
    val e = txt.indexOf(End)
    if (s < 0 || e < 0) Seq.empty
    else
      """(?m)^\| `([a-z0-9_]+)` \|""".r
        .findAllMatchIn(txt.substring(s, e))
        .map(_.group(1))
        .toSeq
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(sys.props.getOrElse("user.dir", "."))
    val covPath = root.resolve("COVERAGE.md")
    val txt = read(covPath)
    val block = render(root)
    val s = txt.indexOf(Begin)
    val e = txt.indexOf(End)
    val out =
      if (s >= 0 && e >= 0) txt.substring(0, s) + block + txt.substring(e + End.length)
      else sys.error("COVERAGE.md has no generated-table markers")
    Files.write(covPath, out.getBytes("UTF-8"))
    println(s"COVERAGE.md: regenerated ${SparkEntry.queries.size}-row query table")
  }
}
