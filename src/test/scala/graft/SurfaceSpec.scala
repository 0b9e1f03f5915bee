package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds what runs: every object-level `def` there needs a
  * caller in `src/main` or `perfbench/src` outside its own definition, or
  * a place, with its reason, on [[SurfaceSpec.Allowed]]. Callers are
  * found by name in the sources with comments stripped, so a scaladoc link
  * is not a caller, and a spec is not one either. */
object SurfaceSpec {
  /** The defs nothing in `src/main` or `perfbench/src` calls that stay:
    * the paper's operators and the entry points of the streaming
    * maintainers, which specs and users start. */
  val Allowed: Map[String, String] = Map(
    "FraudPipeline.kafkaSource" -> "the paper's A1 operator: the Kafka transaction source",
    "FraudPipeline.kafkaSink" -> "the paper's A8 operator: the Kafka alert sink",
    "FraudPipeline.windowedFraudStats" -> "the paper's C5/C6 operator: windowed stats on the stream",
    "StreamHeavyHitters.detect" -> "entry point of the event-time heavy-hitter maintainer",
    "StreamAlert.track" -> "entry point of the processing-time alert-latch maintainer",
    "StreamCusum.track" -> "entry point of the processing-time CUSUM maintainer",
    "StreamSprt.track" -> "entry point of the processing-time SPRT maintainer",
    "StreamFunnel.track" -> "entry point of the processing-time funnel maintainer",
    "StreamEncoding.track" -> "entry point of the processing-time encoding-ledger maintainer",
    "StreamBurst.verdicts" -> "read side of the burst store maintainer",
    "StreamDrift.posture" -> "read side of the drift store maintainer",
    "StreamDrift.referenceBins" -> "the drift maintainer's reference yardstick",
    "StreamKAnonymity.posture" -> "read side of the k-anonymity store maintainer",
    "StreamRobustOutliers.posture" -> "read side of the robust-outlier store maintainer",
    "StreamResample.panel" -> "read side of the resample store maintainer",
    "StreamRoaring.containers" -> "read side of the roaring-bitmap store maintainer",
    "StreamCentroidAssign.assignFlagged" -> "entry point of the centroid router, outlier-flagging",
    "StreamDedup.dedupDocsByFingerprint" -> "entry point of the stream dedup maintainer",
    "IngestGuard.contaminationGuard" -> "entry point of the ingest contamination guard",
    "IngestGuard.nearDupGuard" -> "entry point of the ingest near-duplicate guard",
    "IngestPipeline.ingest" -> "entry point of the chained ingest maintainer",
    "Catalog.registerOpViews" -> "entry point of the SQL surface: the extended operators as views")

  /** `src` without comments, twice: `code` keeps string literals, `shape`
    * blanks them (newlines kept) so a brace inside a literal cannot move
    * the structure. An interpolated literal's `${...}` is code in both. */
  def strip(src: String): (String, String) = {
    val code, shape = new StringBuilder
    def emit(s: String, blank: Boolean = false): Unit = {
      code ++= s
      shape ++= (if (blank) s.map(c => if (c == '\n') c else ' ') else s)
    }
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
    // code from i up to the brace closing an interpolation (inBrace) or the end
    def codeFrom(start: Int, inBrace: Boolean): Int = {
      var (i, depth, end) = (start, 0, -1)
      while (end < 0 && i < src.length) {
        if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i)
          i = if (j < 0) src.length else j
        } else if (src.startsWith("/*", i)) {
          var nest = 0
          while (i < src.length && !(nest == 1 && src.startsWith("*/", i))) {
            if (src.startsWith("/*", i)) { nest += 1; i += 2 }
            else if (src.startsWith("*/", i)) { nest -= 1; i += 2 }
            else { if (src(i) == '\n') emit("\n"); i += 1 }
          }
          i += 2
        } else if (src(i) == '"') {
          i = literal(i, i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_'))
        } else charLit.findPrefixOf(src.substring(i, math.min(src.length, i + 8))) match {
          case Some(c) if src(i) == '\'' => emit(c, blank = true); i += c.length
          case _ =>
            if (inBrace && src(i) == '}' && depth == 0) end = i + 1
            else if (inBrace && src(i) == '{') depth += 1
            else if (inBrace && src(i) == '}') depth -= 1
            emit(src(i).toString)
            i += 1
        }
      }
      if (end < 0) i else end
    }
    def literal(start: Int, interpolated: Boolean): Int = {
      val quote = if (src.startsWith("\"\"\"", start)) "\"\"\"" else "\""
      emit(quote, blank = true)
      var (i, end) = (start + quote.length, -1)
      while (end < 0) {
        if (src.startsWith(quote, i) && !(quote.length == 3 && src.startsWith("\"\"\"\"", i))) {
          emit(quote, blank = true)
          end = i + quote.length
        } else if (quote.length == 1 && src(i) == '\\') {
          emit(src.substring(i, i + 2), blank = true); i += 2
        } else if (interpolated && src.startsWith("$$", i)) {
          emit("$$", blank = true); i += 2
        } else if (interpolated && src.startsWith("${", i)) {
          emit("${"); i = codeFrom(i + 2, inBrace = true)
        } else {
          emit(src(i).toString, blank = true); i += 1
        }
      }
      end
    }
    codeFrom(0, inBrace = false)
    (code.toString, shape.toString)
  }

  /** An object-level def: `Object.name`, its simple name, and its lines
    * (from the `def` to the next member of the object, exclusive). */
  case class Def(qualified: String, name: String, file: Path, from: Int, until: Int)

  private val Mods =
    """(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|lazy\s+|@\w+\s+)*"""
  private val Member = ("""^\s*""" + Mods + """(def|val|var|case|class|object|trait|type|import)\b""").r
  private val DefName = ("""^\s*""" + Mods + """def\s+([\w$]+)""").r
  private val ObjectName = """\bobject\s+(\w+)""".r

  /** The object-level defs of one file's `shape`. */
  def defs(file: Path, shape: String): Seq[Def] = {
    val lines = shape.split("\n", -1).toSeq
    // open braces: the object's name and paren depth for an object body
    var stack = List.empty[Option[(String, Int)]]
    var parens = 0
    var pending = Option.empty[(String, Int)]
    val members = Seq.newBuilder[(Int, String, Option[String])] // line, object, def name
    val closes = scala.collection.mutable.Map.empty[String, Int]
    var objects = 0
    lines.zipWithIndex.foreach { case (line, n) =>
      stack.headOption.flatten.foreach { case (obj, depth) =>
        if (parens == depth && Member.findPrefixOf(line).isDefined)
          members += ((n, obj, DefName.findPrefixMatchOf(line).map(_.group(1))))
      }
      ObjectName.findFirstMatchIn(line).foreach(m => pending = Some((m.group(1), parens)))
      line.foreach {
        case '(' | '[' => parens += 1
        case ')' | ']' => parens -= 1
        case '{' if pending.exists(_._2 == parens) =>
          objects += 1
          stack = Some((s"${pending.get._1}#$objects", parens)) :: stack
          pending = None
        case '{' => stack = None :: stack
        case '}' =>
          stack.head.foreach { case (obj, _) => closes(obj) = n }
          stack = stack.tail
        case _ => ()
      }
    }
    val all = members.result()
    all.zipWithIndex.collect { case ((n, obj, Some(name)), k) =>
      val until = all.drop(k + 1).find(_._2 == obj).map(_._1).getOrElse(closes(obj))
      Def(s"${obj.takeWhile(_ != '#')}.$name", name, file, n, until)
    }
  }

  private def scalaFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted

  /** The object-level defs of `main` with no caller in `main` or `others`. */
  def uncalled(main: Path, others: Path*): Seq[Def] = {
    val mainFiles = scalaFiles(main)
    val sources = (mainFiles ++ others.flatMap(scalaFiles))
      .map(f => f -> strip(Files.readString(f))).toMap
    val all = mainFiles.flatMap(f => defs(f, sources(f)._2))
    all.groupBy(_.name).toSeq.flatMap { case (name, own) =>
      val ref = ("""(?<![\w$])""" + java.util.regex.Pattern.quote(name) + """(?![\w$])""").r
      val called = sources.exists { case (f, (code, _)) =>
        code.split("\n", -1).iterator.zipWithIndex.exists { case (line, n) =>
          ref.findFirstIn(line).isDefined &&
            !own.exists(d => d.file == f && d.from <= n && n < d.until)
        }
      }
      if (called) Nil else own
    }.sortBy(_.qualified)
  }
}

class SurfaceSpec extends AnyFunSuite {
  import SurfaceSpec._

  test("strip drops comments and blanks literals, keeping interpolated code") {
    val src = "val a = 1 // f(x)\n/* g(y) /* nested */ h */ val b = s\"{ ${f(\"}\")} }\"\n"
    val (code, shape) = strip(src)
    assert(!code.contains("g(y)") && !code.contains("// f(x)"))
    assert(code.contains("val b = s\"{ ${f(\"}\")} }\""))
    assert(shape.count(_ == '{') === 1 && shape.count(_ == '}') === 1 && shape.contains("f("))
    assert(code.count(_ == '\n') === src.count(_ == '\n'))
  }

  test("every object-level def in src/main has a caller in src/main or perfbench, or an allowed reason") {
    val root = Paths.get(sys.props("user.dir"))
    val found = uncalled(root.resolve("src/main/scala"), root.resolve("perfbench/src"))
    assert(found.exists(_.qualified == "FraudPipeline.kafkaSource"), "the scan found nothing")
    val unlisted = found.filterNot(d => Allowed.contains(d.qualified))
    if (unlisted.nonEmpty) fail("defs nothing calls, not on the allowlist: " +
      unlisted.map(d => s"${d.qualified} (${root.relativize(d.file)}:${d.from + 1})").mkString(", "))
    val stale = Allowed.keySet -- found.map(_.qualified)
    if (stale.nonEmpty) fail(s"allowlisted defs that are gone or have a caller now: ${stale.mkString(", ")}")
  }
}
