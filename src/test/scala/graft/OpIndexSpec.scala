package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the README operator index to the LIVE registry: the table is
  * generated (tools/gen_opindex.py over [[OpIndexGen.rows]]), but until
  * this spec nothing FAILED when it rotted. The contract compared is
  * the registry content — (query key, owning pack, oracle kind) and the
  * declared row count — not the `registered at` file:line column, which
  * legitimately shifts with any edit above a registration site and is
  * refreshed by re-running the generator at round close. It also holds
  * two source checks scalac lacks: no doc comment in `src/main` is
  * stacked on another, each shared DuckDB oracle fragment is written
  * once, and every operator definition has a caller.
  */
class OpIndexSpec extends AnyFunSuite {

  private val begin =
    "<!-- OPINDEX:BEGIN (generated by tools/gen_opindex.py — do not edit) -->"
  private val end = "<!-- OPINDEX:END -->"

  private def readmeSection(): Seq[String] = {
    val src = scala.io.Source.fromFile("README.md", "UTF-8")
    val text = try src.mkString finally src.close()
    val b = text.indexOf(begin)
    val e = text.indexOf(end)
    assert(b >= 0 && e > b, "README.md is missing the OPINDEX markers")
    text.substring(b + begin.length, e).linesIterator.toSeq
  }

  private val rowRe =
    """\|\s*(q\d+_[a-z0-9_]+)\s*\|[^|]*\|\s*([A-Za-z0-9]+)\s*\|[^|]*\|\s*(\w+)\s*\|""".r

  test("README operator index matches the live registry (key, pack, oracle kind)") {
    val section = readmeSection()
    val fromReadme = section.flatMap {
      case rowRe(key, pack, kind) => Some((key, pack, kind))
      case _                      => None
    }.toSet
    val live = OpIndexGen.rows.toSet
    val missing = live -- fromReadme
    val stale = fromReadme -- live
    assert(missing.isEmpty && stale.isEmpty,
      s"README operator index is stale — re-run tools/gen_opindex.py.\n" +
        s"registry rows missing from README (${missing.size}): " +
        s"${missing.toSeq.sortBy(_._1).take(10).mkString(", ")}\n" +
        s"README rows no longer in the registry (${stale.size}): " +
        s"${stale.toSeq.sortBy(_._1).take(10).mkString(", ")}")
  }

  test("README operator index declares the live query count") {
    val n = OpIndexGen.rows.size
    assert(readmeSection().exists(_.contains(s"$n declared queries")),
      s"README's '<N> declared queries' line must say $n — " +
        "re-run tools/gen_opindex.py")
  }

  test("every declared query key is unique across packs") {
    val keys = OpIndexGen.rows.map(_._1)
    val dups = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dups.isEmpty, s"duplicate query keys across packs: $dups")
  }

  private def mainSources(): Vector[java.nio.file.Path] = {
    val w = Files.walk(Paths.get("src/main"))
    try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector.sorted
    finally w.close()
  }

  test("no src/main doc comment is directly followed by another doc comment") {
    // scaladoc attaches only the LAST of two stacked /** */ blocks to the
    // definition below them; the first documents nothing, and scalac has
    // no warning for it
    val files = mainSources()
    val stacked = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toVector
      (line, i) <- lines.zipWithIndex if line.trim.startsWith("/**")
      next = lines.indexWhere(_.trim.nonEmpty, lines.indexWhere(_.contains("*/"), i) + 1)
      if next >= 0 && lines(next).trim.startsWith("/**")
    } yield s"$f:${i + 1}"
    assert(files.nonEmpty, "no sources found under src/main")
    assert(stacked.isEmpty,
      s"doc comments that document nothing (${stacked.size}): " +
        stacked.mkString(", "))
  }

  test("each shared oracle fragment is written once in src/main") {
    // one marker line per hoisted DuckDB fragment; a second copy means an
    // oracle re-inlined what it should compose
    val markers = Seq(
      // TextExprs.duckShingleSet
      "list_distinct(CASE WHEN len(t) >= 3 THEN",
      // Curation.flagBlockCtes and takedownCtes
      "flagged AS (SELECT doc_id, 1 AS fl",
      "takedown AS (SELECT fam.doc_id FROM fam JOIN fh USING (cluster_id)",
      // Similarity.ivfPqEncodeCtes
      "recon AS (SELECT c.vec_id, any_value(c.centroid) AS centroid,",
      // Dedup.reachCtes
      "SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id")
    val lines = mainSources().flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.map { case (l, i) => (s"$f:${i + 1}", l) }
    }
    val counts = markers.map(m => m -> lines.collect { case (at, l) if l.contains(m) => at })
    val bad = counts.filter(_._2.size != 1)
    assert(bad.isEmpty, bad.map { case (m, at) =>
      s"'$m' written ${at.size} times${at.mkString(": ", ", ", "")}" }.mkString("; "))
  }

  test("every non-private operator definition has a src/main caller or is a named test reference") {
    // a member def/val of an operator object that nothing in src/main
    // reads is either a reference implementation a spec compares against
    // (named below, with the spec) or dead code
    val references = Map(
      "q35NgramJaccard"       -> "ScaleSpec: exact q35 for the prefix join",
      "containmentReference"  -> "ScaleSpec: the q174 reference join",
      "lshRecallCore"         -> "SimilaritySpec/PlanSpec: q242 over planted relations",
      "bpeMergeChainCompute"  -> "PlanSpec: q186's un-memoized chain",
      "hubAuditBrute"         -> "MiningSpec: brute-force q224 reference",
      "boilerplateHashed"     -> "Curation2Spec: the hashed q91 scale form",
      "windowProfileHashed"   -> "WindowSpec: the hashed q111 scale form",
      "winnowExpr"            -> "StatsSpec: winnowing on planted spans",
      "whitenExpr"            -> "ProjectionSpec: whitened unit variance",
      "mineIndexStale"        -> "MiningSpec: the index staleness monitor",
      "incrementalDedupBloom" -> "ScaleSpec: single-filter reference for the sharded bloom",
      "ivfPqSearch"           -> "SimilaritySpec: the ADC pool and partition-pruning pins",
      "expirePartitions"      -> "product API (retention), IngestSpec")
    val defRe = """^  (?:private\[\w+\] |protected )?(?:final )?(?:def|val|lazy val) ([A-Za-z_]\w*)""".r
    def isComment(l: String) = {
      val t = l.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }
    val lines = mainSources().map(f => f -> Files.readAllLines(f).asScala.toVector)
    val uncalled = for {
      (f, ls) <- lines if f.toString.contains("/operators/")
      (l, i) <- ls.zipWithIndex
      name <- defRe.findFirstMatchIn(l).map(_.group(1)).toSeq
      word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      if !lines.exists { case (g, gs) =>
        gs.zipWithIndex.exists { case (l2, j) =>
          !(g == f && j == i) && l2.contains(name) && !isComment(l2) &&
            word.findFirstIn(l2).isDefined }
      }
    } yield name -> s"$f:${i + 1}"
    val stale = references.keySet -- uncalled.map(_._1)
    val dead = uncalled.filterNot(u => references.contains(u._1))
    assert(dead.isEmpty,
      s"operator definitions nothing in src/main calls (delete them, or name the " +
        s"spec that compares against them): ${dead.map(_._2).mkString(", ")}")
    assert(stale.isEmpty,
      "allowlisted references that src/main now calls or that no longer exist: " +
        stale.mkString(", "))
  }
}
