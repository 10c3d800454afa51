package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public def in `src/main` has a caller in the program: in
  * `src/main` itself or in the benchmark's `perfbench/src`. A def that
  * only specs reach belongs in its spec or nowhere, except for the
  * references below, which specs compare the program against.
  *
  * The scan is by name, qualified by the receiver where it has one: a
  * def of `object O` is reached by its bare name or by `O.name`, not by
  * `x.name` on another receiver (`Lake.read` is not called by
  * `spark.read`, but by `L.read` after `import p.{Lake => L}` or
  * `val L = p.Lake`); a def of a class or trait is reached by its name
  * on any receiver. Comments and the text of string literals do not count
  * as callers; code inside `${...}` and `$name` interpolations does. A mention inside the body of a def that is itself uncalled does
  * not count either, so the scan repeats until no more defs are flagged.
  * Private, protected and override defs, local defs and `main` are never
  * flagged.
  */
class SpecOnlyDefsSpec extends AnyFunSuite {
  import SpecOnlyDefsSpec.Def

  /** Spec-only references kept in `src/main`, by file and def name. */
  private val AllowList = Map(
    "graft/operators/Similarity.scala: bruteForceTopK" ->
      "exact cosine top-k that the ANN specs measure recall against",
    "graft/operators/Similarity.scala: trainIvf" ->
      "driver-side IVF trainer that the IVF and IVF-PQ recall specs build centroids with",
    "graft/queries/Dedup.scala: voteCol" ->
      "per-bit SimHash vote that SimHashAggSpec checks the single-buffer aggregator against",
    "graft/queries/Dedup.scala: packBits" ->
      "vote-sign packing that SimHashAggSpec checks the single-buffer aggregator against",
    "graft/operators/Pq.scala: subDist" ->
      "expression-tree subspace distance that PqSpec checks the PqEncode kernel against",
    "graft/operators/Pq.scala: train" ->
      "driver-side PQ codebook trainer that the PQ and IVF-PQ recall specs build codebooks with")

  private val Program = "src/main/scala/"
  private val Roots = Seq(Program -> true, "perfbench/src" -> false)

  private def scalaFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
  }

  private def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** `src` with comments and string text blanked; the code of `${...}`
    * and `$name` interpolations is kept.
    */
  private def strip(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def interpolation(j: Int): Int =
      if (src(j + 1) == '{') {
        var depth = 1
        var k = j + 2
        while (k < n && depth > 0) {
          src(k) match {
            case '{' => depth += 1
            case '}' => depth -= 1
            case '"' =>
              k += 1
              while (k < n && src(k) != '"') { if (src(k) == '\\') k += 1; k += 1 }
            case _ =>
          }
          k += 1
        }
        out.append(' ').append(strip(src.substring(j + 2, k - 1))).append(' ')
        k
      } else {
        var k = j + 1
        while (k < n && isIdent(src(k))) k += 1
        out.append(' ').append(src.substring(j + 1, k)).append(' ')
        k
      }
    // end of a character literal opening at j, or -1 (a symbol or a
    // type-parameter quote)
    def charEnd(j: Int): Int =
      if (j + 2 < n && src(j + 1) != '\\' && src(j + 2) == '\'') j + 3
      else if (j + 1 < n && src(j + 1) == '\\') {
        val e = src.indexOf('\'', j + 3)
        if (e > 0 && e <= j + 7) e + 1 else -1
      } else -1
    while (i < n) {
      val c = src(i)
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out.append('\n'); i += 1 }
        }
      } else if (c == '"') {
        val interpolated = i > 0 && isIdent(src(i - 1))
        val triple = src.startsWith("\"\"\"", i)
        i += (if (triple) 3 else 1)
        var open = true
        out.append(' ')
        while (i < n && open) {
          if (triple && src.startsWith("\"\"\"", i)) {
            i += 3
            while (i < n && src(i) == '"') i += 1
            open = false
          } else if (!triple && src(i) == '"') { i += 1; open = false }
          else if (!triple && src(i) == '\\') i += 2
          else if (interpolated && src(i) == '$' && i + 1 < n && src(i + 1) == '$') i += 2
          else if (interpolated && src(i) == '$' && i + 1 < n &&
              (src(i + 1) == '{' || src(i + 1).isLetter || src(i + 1) == '_'))
            i = interpolation(i)
          else { if (src(i) == '\n') out.append('\n'); i += 1 }
        }
        out.append(' ')
      } else if (c == '\'' && (i == 0 || !isIdent(src(i - 1))) && charEnd(i) > 0) {
        i = charEnd(i)
        out.append(' ')
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private val Token = "`[^`]+`|[A-Za-z_][A-Za-z0-9_]*|\\S".r

  private val Modifiers = Set("private", "protected", "override", "final", "implicit",
    "inline", "lazy", "abstract", "sealed")
  private val MemberStart = Set("def", "val", "var", "class", "object", "trait", "private",
    "protected", "override", "lazy", "final", "implicit", "type", "import", "@")
  private val Headers = Set("class", "object", "trait", "new", "def", "val", "var", "=", "=>", "type")

  private def defsOf(file: String, toks: IndexedSeq[String], program: Boolean): Seq[Def] = {
    // per open brace: (template body?, owning object, bracket depth, last
    // header keyword and the name after it)
    final class Frame(val template: Boolean, val owner: Option[String]) {
      var depth = 0; var last = ""; var named = ""
    }
    var stack = List(new Frame(true, None))
    val out = Seq.newBuilder[Def]
    for (k <- toks.indices) {
      val t = toks(k)
      val top = stack.head
      t match {
        case "(" | "[" => top.depth += 1
        case ")" | "]" => top.depth -= 1
        case "{" =>
          stack = new Frame(Set("class", "object", "trait", "new")(top.last),
            if (top.last == "object") Some(top.named) else None) :: stack
          top.last = ""
        case "}" => if (stack.size > 1) stack = stack.tail
        case h if top.depth == 0 && Headers(h) =>
          top.last = h
          top.named = if (k + 1 < toks.size) toks(k + 1) else ""
        case _ =>
      }
      if (t == "def" && k + 1 < toks.size) {
        var j = k - 1
        val mods = Seq.newBuilder[String]
        while (j >= 0 && (Modifiers(toks(j)) || toks(j) == "[" || toks(j) == "]" ||
            j >= 1 && toks(j - 1) == "[")) { mods += toks(j); j -= 1 }
        var depth = 0
        var e = k + 2
        var open = true
        while (e < toks.size && open) {
          toks(e) match {
            case "(" | "{" | "[" => depth += 1
            case ")" | "}" | "]" => if (depth == 0) open = false else depth -= 1
            case m if depth == 0 && MemberStart(m) => open = false
            case _ =>
          }
          if (open) e += 1
        }
        val name = toks(k + 1).stripPrefix("`").stripSuffix("`")
        val member = stack.head.template && stack.head.depth == 0
        val hidden = mods.result().exists(Set("private", "protected", "override"))
        out += Def(file, name, stack.head.owner.filter(_ => member), k, e,
          program && member && name != "main" && !hidden)
      }
    }
    out.result()
  }

  private def tokens(src: String): IndexedSeq[String] =
    Token.findAllIn(strip(src)).toIndexedSeq

  private def unquote(t: String): String = t.stripPrefix("`").stripSuffix("`")

  /** The receiver of the name at `k`: None when it has none (or is
    * `this`/`super`), the receiver's name when it is an identifier, and
    * "" for any other expression.
    */
  private def receiver(toks: IndexedSeq[String], k: Int): Option[String] =
    if (k < 2 || toks(k - 1) != ".") None
    else toks(k - 2) match {
      case "this" | "super" => None
      case r if isName(r) || r.head == '`' => Some(unquote(r))
      case _ => Some("")
    }

  private def isName(t: String): Boolean = t.head.isLetter || t.head == '_'

  /** Other names for objects in one file: `import p.{X => Y}` and
    * `val Y = p.X` make Y stand for X.
    */
  private def aliases(toks: IndexedSeq[String]): Map[String, String] =
    toks.indices.flatMap { k =>
      def at(i: Int): String = toks.lift(i).getOrElse("")
      // the tokenizer splits `=>` into "=" and ">"
      if (at(k) == "=" && at(k + 1) == ">" && Set("{", ",")(at(k - 2)) &&
          Set("}", ",")(at(k + 3)) && k >= 1 && isName(at(k - 1)) && isName(at(k + 2)))
        Some(at(k + 2) -> at(k - 1))
      else if (at(k) == "val" && at(k + 2) == "=" && at(k + 3).nonEmpty && isName(at(k + 3))) {
        var j = k + 3
        while (at(j + 1) == "." && at(j + 2).nonEmpty && isName(at(j + 2))) j += 2
        if (at(j).head.isUpper && !Set("(", "[", "{")(at(j + 1))) Some(at(k + 1) -> at(j))
        else None
      } else None
    }.toMap

  /** Public program defs in `files` (path, program?, tokens) with no
    * caller outside their own name sites and the bodies of other such
    * defs, as "path: name".
    */
  private def uncalled(files: Seq[(String, Boolean, IndexedSeq[String])]): Set[String] = {
    val defs = files.flatMap { case (f, program, toks) => defsOf(f, toks, program) }
    val nameSites = defs.map(d => (d.file, d.at + 1)).toSet
    var flagged = Set.empty[Def]
    var changed = true
    while (changed) {
      val dead = flagged.groupBy(_.file)
      // name -> the receivers it is called on
      val live = scala.collection.mutable.Map.empty[String, Set[Option[String]]]
        .withDefaultValue(Set.empty)
      files.foreach { case (f, _, toks) =>
        val ranges = dead.getOrElse(f, Set.empty)
        val named = aliases(toks)
        toks.indices.foreach { k =>
          if (!nameSites((f, k)) && !ranges.exists(d => d.at <= k && k < d.end)) {
            val n = unquote(toks(k))
            live(n) = live(n) + receiver(toks, k).map(r => named.getOrElse(r, r))
          }
        }
      }
      def called(d: Def): Boolean =
        live(d.name).exists(r => r.isEmpty || d.owner.forall(o => r.contains(o)))
      val next = defs.filter(d => d.candidate && !called(d)).toSet
      changed = next != flagged
      flagged = next
    }
    flagged.map(d => s"${d.file}: ${d.name}")
  }

  /** [[uncalled]] over `src/main` and `perfbench/src`, as "path under
    * src/main/scala: name".
    */
  private def uncalledInProgram(): Set[String] = {
    val files = for {
      (root, program) <- Roots
      p = Paths.get(root)
      _ = assert(Files.isDirectory(p), s"run from the repository root: no $root")
      f <- scalaFiles(p)
    } yield (f.toString, program, tokens(new String(Files.readAllBytes(f), "UTF-8")))
    uncalled(files).map(_.stripPrefix(Program))
  }

  test("every public def in src/main is called from the program, or is a listed reference") {
    val found = uncalledInProgram()
    val unlisted = (found -- AllowList.keySet).toSeq.sorted
    assert(unlisted.isEmpty,
      s"public defs only specs call (move them into their spec or delete them):\n  " +
        unlisted.mkString("\n  "))
    val stale = (AllowList.keySet -- found).toSeq.sorted
    assert(stale.isEmpty, s"allow-listed defs that now have callers (drop them from the list):\n  " +
      stale.mkString("\n  "))
  }

  test("an object's def is not reached by a same-named call on another receiver") {
    val lib = tokens("""object Lake { def read(p: String) = p; def write(p: String) = p;
      def scan(p: String) = p; def commit(x: Int) = x }
      class Frame { def read(p: String) = p }""")
    val app = tokens("""object App { def run(spark: Spark, f: Frame) = {
      spark.read; f.read("a"); Lake.write("b"); import Lake._; scan("c");
      new Frame().commit } }""")
    val aliased = tokens("""import x.{Lake => L}
      object Other { val K = x.Lake; def go = { L.read("d"); K.commit(1) } }""")
    assert(uncalled(Seq(("lib", true, lib), ("app", false, app))) ===
      Set("lib: read", "lib: commit"))
    assert(uncalled(Seq(("lib", true, lib), ("app", false, app), ("aliased", false, aliased)))
      .isEmpty)
  }

  test("the scan sees through comments and strings but not through interpolations") {
    val src = "a // b\n/* c /* d */ e */ f \"g $h ${i}\" k s\"l $m ${n(\"o\")}\" 'p' q"
    assert(Token.findAllIn(strip(src)).filter(_.head.isLetter).toSeq ===
      Seq("a", "f", "k", "s", "m", "n", "q"))
  }
}

object SpecOnlyDefsSpec {
  /** A def's name, the object it is a member of (None for a class or
    * trait member), its token span (`at` is the `def` keyword) and
    * whether it is a public `src/main` member the scan may flag.
    */
  private final case class Def(
      file: String, name: String, owner: Option[String], at: Int, end: Int, candidate: Boolean)
}
