package graft

import org.scalatest.funsuite.AnyFunSuite

/** Duplicate-operator census (round-16 lesson, promoted to a lint):
  * before the fleet of operator objects grew past 400 public defs,
  * two operators (brownForsythe, benford) were re-implemented under
  * an existing name in the same object and were only caught as
  * ambiguous-overload COMPILE errors — and a re-implementation in a
  * DIFFERENT object would not be caught at all, silently splitting
  * callers across two divergent definitions. This spec fails the
  * build on any public operator name defined in two operator files,
  * and on any same-file redefinition outside the documented-overload
  * allowlist. Pure source scan — no Spark session. */
class OperatorCensusSpec extends AnyFunSuite {

  private val opsDir = new java.io.File("src/main/scala/graft/operators")

  // Documented intentional overloads: "File.scala:name".
  // diffInDiff: the grouped 5-arg variant (per-group DID table) and
  // the global 4-arg variant (one-row four-cell contrast) share the
  // name on purpose — both are gated (q396 global, grouped spec).
  private val allowedSameFile = Set("Profile.scala:diffInDiff")

  private val defPat =
    """^  (?:final )?def ([a-zA-Z_]\w*)""".r

  private def publicDefs(f: java.io.File): Seq[String] = {
    val src = new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    src.linesIterator.flatMap(l =>
      defPat.findFirstMatchIn(l).map(_.group(1))).toSeq
  }

  /** Every Scala source under `root`, as (file, its lines). Read as
    * UTF-8: grep takes a source holding a control byte for binary. */
  private def sources(root: String): Seq[(java.io.File, Seq[String])] = {
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    scalaFiles(new java.io.File(root)).map(f => f ->
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq)
  }

  /** Every main source file, as (file, its lines). */
  private def mainSources: Seq[(java.io.File, Seq[String])] = sources("src/main")

  /** A main source's path under src/main/scala/graft. */
  private def underGraft(f: java.io.File): String =
    f.getPath.replace('\\', '/').stripPrefix("src/main/scala/graft/")

  test("operator census: source dir resolves from the test cwd") {
    assert(opsDir.isDirectory,
      s"expected ${opsDir.getAbsolutePath} — did the fork cwd move?")
  }

  test("no public operator name is defined in two operator files") {
    val files = opsDir.listFiles.filter(_.getName.endsWith(".scala"))
    val byName = files.flatMap(f =>
        publicDefs(f).distinct.map(_ -> f.getName))
      .groupBy(_._1).map { case (n, fs) => n -> fs.map(_._2).toSet }
    val dups = byName.filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"operator name(s) defined in multiple files — consolidate or " +
        s"rename: ${dups.map { case (n, fs) =>
          s"$n in ${fs.mkString(", ")}" }.mkString("; ")}")
  }

  test("driver-fold guards live only in DriverFold") {
    // Nine operators once restated the fold decision, each with a
    // different subset of its conditions; operators ask
    // operators.DriverFold instead.
    val guard = """driverCap\s*>\s*0""".r
    val sites = mainSources.filter(_._1.getName != "DriverFold.scala")
      .flatMap { case (f, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if guard.findFirstIn(l).isDefined =>
            s"${f.getName}:${i + 1}"
        }
      }
    assert(sites.isEmpty,
      s"hand-rolled driver-fold guard(s) — call DriverFold: " +
        sites.mkString(", "))
  }

  test("manifest version slots are claimed only by publish and compact") {
    // Three hand-copied commit retry loops once drifted apart (only one
    // checkpointed, only some cleaned up on abort); every write now
    // claims its slot through ManifestTable's one publish step.
    val member = """^  (?:private )?def (\w+).*""".r
    val sites = mainSources.flatMap { case (f, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("claimSlot(") && !l.contains("def claimSlot(") =>
          val in = lines.take(i).reverse.collectFirst {
            case member(n) => n }.getOrElse("?")
          (s"${f.getName}:${i + 1} in $in", in)
      }
    }
    val stray = sites.filterNot { case (_, in) => Set("publish", "compact")(in) }
    assert(stray.isEmpty && sites.size == 2,
      s"claimSlot( outside ManifestTable's publish step and compact: " +
        stray.map(_._1).mkString(", ") + s" (all sites: ${sites.map(_._1)})")
  }

  test("streams land in manifest tables only through ManifestSink") {
    // Fifteen hand-wired foreachBatch sinks once restated the
    // exactly-once rule (commit under txn id <streamId>-<batchId>), and
    // the monitor job wrote a plain parquet stream with no manifest;
    // every stream in src/main now lands through streaming.ManifestSink.
    val wiring = """\.foreachBatch\b|-\$batchId|\.writeStream\b""".r
    val sites = mainSources.filter(_._1.getName != "ManifestSink.scala")
      .flatMap { case (f, lines) =>
        lines.zipWithIndex.collect {
          case (l, i) if wiring.findFirstIn(l).isDefined =>
            s"${f.getName}:${i + 1}"
        }
      }
    assert(sites.isEmpty,
      s"hand-wired stream sink(s) — call ManifestSink: " +
        sites.mkString(", "))
  }

  /** "path:line" of every match of `pat` in a main source whose path
    * under src/main/scala/graft is not in `allowed`. */
  private def strays(pat: scala.util.matching.Regex, allowed: Set[String]): Seq[String] =
    mainSources.flatMap { case (f, lines) =>
      val path = underGraft(f)
      val text = lines.mkString("\n")
      if (allowed(path)) Nil
      else pat.findAllMatchIn(text).map(m =>
        s"$path:${text.take(m.start).count(_ == '\n') + 1}").toSeq
    }

  test("mains live only in the graded harness and the allowed tools") {
    // Four copy-pasted timing and plan mains once drifted from Bench's
    // session (core count, time zone, cleanup); gates are timed and
    // their plans dumped by tools.Profile.
    val sites = strays("""\bdef main\(""".r, Set("Bench.scala", "Verify.scala",
      "Smoke.scala", "PlanAudit.scala", "ScaleBench.scala",
      "streaming/Monitor.scala", "tools/Profile.scala"))
    assert(sites.isEmpty, s"main(s) outside the allowed entry points: ${sites.mkString(", ")}")
  }

  test("sessions are built only by Graft.session and the mains that mirror Bench") {
    val sites = strays("""SparkSession\s*\.builder\(""".r, Set("Graft.scala",
      "Bench.scala", "Verify.scala", "tools/Profile.scala"))
    assert(sites.isEmpty,
      s"SparkSession.builder() outside Graft, Bench, Verify and tools.Profile: " +
        sites.mkString(", "))
  }

  test("no top-level object member in src/main that nothing references") {
    // Wrappers that only their own spec reached, and schemas nothing
    // read, survived only because nothing asked for their deletion. A
    // public def or val of a top-level object must be named, as a word
    // on a code line other than its definition, somewhere in src/main,
    // src/test or perfbench/src. Comment lines do not count; overrides
    // are exempt (the member regex does not admit the modifier).
    val comment = """^\s*(?://|/\*|\*)""".r
    val word = """[A-Za-z_]\w*""".r
    val uses = Seq("src/main", "src/test", "perfbench/src").flatMap(sources)
      .flatMap(_._2).filter(comment.findPrefixOf(_).isEmpty)
      .flatMap(word.findAllIn).groupMapReduce(identity)(_ => 1)(_ + _)
    val topLevel =
      """^(?:(?:private|protected|final|sealed|abstract|case|implicit)\S* )*(object|class|trait) """.r
    val member = """^  (?:final |implicit |lazy |inline )*(?:def|val|var) ([A-Za-z_]\w*)""".r
    val unused = mainSources.flatMap { case (f, lines) =>
      var inObject = false
      lines.zipWithIndex.flatMap { case (l, i) =>
        topLevel.findPrefixMatchOf(l).foreach(m => inObject = m.group(1) == "object")
        member.findPrefixMatchOf(l).map(_.group(1))
          .filter(n => inObject && uses(n) == word.findAllIn(l).count(_ == n))
          .map(n => s"${underGraft(f)}:${i + 1} $n")
      }
    }
    assert(unused.isEmpty,
      s"public object member(s) nothing references — delete them: " +
        unused.mkString(", "))
  }

  test("no main source holds a raw NUL byte") {
    // grep and ripgrep treat a file with a NUL byte as binary and hide
    // its matching lines; string literals spell it as the escape.
    val sites = mainSources.flatMap { case (f, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if l.contains('\u0000') => s"${f.getName}:${i + 1}"
      }
    }
    assert(sites.isEmpty,
      s"raw NUL byte(s) — write the escape instead: ${sites.mkString(", ")}")
  }

  test("no same-file redefinition outside the overload allowlist") {
    val files = opsDir.listFiles.filter(_.getName.endsWith(".scala"))
    val dups = files.flatMap { f =>
      publicDefs(f).groupBy(identity).collect {
        case (n, occ) if occ.size > 1 &&
            !allowedSameFile(s"${f.getName}:$n") =>
          s"${f.getName}:$n ×${occ.size}"
      }
    }
    assert(dups.isEmpty,
      s"same-file duplicate def(s) — if an intentional overload, add " +
        s"to the allowlist WITH a doc note: ${dups.mkString("; ")}")
  }
}
