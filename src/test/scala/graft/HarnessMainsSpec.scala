package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the harness surface: one-off profiling mains, private
  * session builders, hand-rolled streaming sinks, hand-rolled store
  * version builds, schema-less reads, unaudited `localCheckpoint`
  * pins, unbounded driver collects and operators no caller reaches
  * may not accumulate in the library again. Every harness main that should match the bench
  * builds Bench.session; an A/B of one query is `runMain graft.ProfQ`,
  * of two commits perfbench.
  */
class HarnessMainsSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src", "main", "scala")

  /** Source files (basename without `.scala`) with a code line — not a
    * comment line — containing `needle`.
    */
  private def filesWith(needle: String): Set[String] =
    codeByFile.collect { case (f, lines) if lines.exists(_.contains(needle)) => f }.toSet

  private def isComment(trimmed: String): Boolean =
    trimmed.startsWith("*") || trimmed.startsWith("//") || trimmed.startsWith("/*")

  /** Trimmed lines of every source file under the main root, keyed by
    * basename without `.scala`.
    */
  private lazy val linesByFile: Map[String, Seq[String]] = {
    assert(Files.isDirectory(mainRoot),
      s"$mainRoot not found under ${Paths.get("").toAbsolutePath}")
    val s = Files.walk(mainRoot)
    try s.iterator().asScala.toList
      .filter(_.toString.endsWith(".scala"))
      .groupMapReduce(_.getFileName.toString.stripSuffix(".scala"))(p =>
        Files.readAllLines(p).asScala.toSeq.map(_.trim))(_ ++ _)
    finally s.close()
  }

  /** [[linesByFile]] with the comment lines dropped. */
  private lazy val codeByFile: Map[String, Seq[String]] =
    linesByFile.map { case (f, lines) => f -> lines.filterNot(isComment) }

  /** A parquet read with no `.schema(` in its reader chain: `read`, any
    * `.option(..)`/`.options(..)` calls, then `.parquet(` — on one line
    * or across several.
    */
  private val schemaLessRead =
    raw"\bread(?:\s*\.\s*options?\((?:[^()]|\([^()]*\))*\))*\s*\.\s*parquet\(".r

  /** Schema-less parquet reads allowed besides TableReads: per file, how
    * many reader chains, and why a cached schema would not pay there.
    */
  private val schemaLessReadAllowed: Map[String, (Int, String)] = Map(
    "GenData" -> (1, "data generator main: copies two fixed tables once per run"),
    "ProfQ" -> (1, "profiling main: one warm-up scan per JVM, before any query runs"),
    "SparkEntryEvents" -> (1, "q_schema_evolution: the mergeSchema footer inference over two generations is what it checks"))

  /** Files of `code` whose count of schema-less reads differs from
    * [[schemaLessReadAllowed]] (TableReads excepted), with both counts.
    */
  private def schemaLessReadsOffList(code: Map[String, Seq[String]]): Seq[String] = {
    val found = code.map { case (f, lines) =>
      f -> schemaLessRead.findAllIn(lines.mkString("\n")).size
    }.filter(_._2 > 0) - "TableReads"
    val allowed = schemaLessReadAllowed.map { case (f, (n, _)) => f -> n }
    (found.keySet ++ allowed.keySet).toSeq.sorted.collect {
      case f if found.getOrElse(f, 0) != allowed.getOrElse(f, 0) =>
        s"$f: ${found.getOrElse(f, 0)} in the source, ${allowed.getOrElse(f, 0)} allowed"
    }
  }

  /** A pin's class tag: `loop:` (cuts lineage inside an iterative loop,
    * or pins a loop-invariant input every round reads), `determinism:`
    * (freezes a nondeterministic input read more than once) or `reuse:`
    * (anything else; kept because its subtree would otherwise run more
    * than once).
    */
  private val pinTag = raw"\b(loop|determinism|reuse):".r

  /** The class of every `.localCheckpoint(` call in `lines` (one source
    * file's trimmed lines), in source order: the tag in the comment on
    * the pin's line, else the first tag in the comment lines directly
    * above it; None for an untagged pin.
    */
  private def pinClasses(lines: Seq[String]): Seq[Option[String]] =
    lines.indices.flatMap { i =>
      val line = lines(i)
      val cut = line.indexOf("//")
      val code = if (isComment(line)) "" else if (cut < 0) line else line.take(cut)
      val pins = code.split("\\.localCheckpoint\\(", -1).length - 1
      lazy val own =
        if (cut < 0) None else pinTag.findFirstMatchIn(line.drop(cut)).map(_.group(1))
      lazy val above = lines.take(i).reverse.takeWhile(isComment).reverse
        .flatMap(pinTag.findFirstMatchIn(_)).headOption.map(_.group(1))
      Seq.fill(pins)(own.orElse(above))
    }

  /** Every `localCheckpoint` site in the library: per file, how many of
    * each class. Each site's tag and reason live in its comment (see
    * [[pinClasses]]); a pin that is added, deleted or reclassed updates
    * this list.
    */
  private val auditedPins: Map[String, Map[String, Int]] = Map(
    "Coreset" -> Map("loop" -> 1),
    "CoresetStream" -> Map("determinism" -> 1),
    "Dedup" -> Map("loop" -> 3, "reuse" -> 5),
    "DedupStream" -> Map("reuse" -> 1),
    "DriftStream" -> Map("reuse" -> 1),
    "Dsir" -> Map("reuse" -> 1),
    "GlobalIndex" -> Map("determinism" -> 1),
    "IndexStream" -> Map("reuse" -> 1),
    "LinkGraph" -> Map("loop" -> 8, "reuse" -> 2),
    "QualityClassifier" -> Map("reuse" -> 1),
    "Similarity" -> Map("reuse" -> 1),
    "SparkEntryAnn" -> Map("reuse" -> 3),
    "SparkEntryDedup" -> Map("loop" -> 2, "reuse" -> 3),
    "SparkEntryEvents" -> Map("reuse" -> 4),
    "SparkEntryIngest" -> Map("reuse" -> 1),
    "TermIndex" -> Map("loop" -> 3, "reuse" -> 2),
    "WordPiece" -> Map("loop" -> 2))

  /** Basenames of the source files under `graft/operators` and
    * `graft/streaming`.
    */
  private lazy val operatorFiles: Set[String] =
    Seq("operators", "streaming").flatMap { d =>
      val s = Files.list(mainRoot.resolve("graft").resolve(d))
      try s.iterator().asScala.toList.map(_.getFileName.toString)
        .filter(_.endsWith(".scala")).map(_.stripSuffix(".scala"))
      finally s.close()
    }.toSet

  /** Basenames of the files where every data-dependent collect goes
    * through `DriverRows`: the operators, the streaming sinks and the
    * `SparkEntry*` query layer.
    */
  private lazy val collectScope: Set[String] =
    operatorFiles ++ linesByFile.keySet.filter(_.startsWith("SparkEntry"))

  /** Each `.collect()` call of `lines` (one file's trimmed lines) as
    * (1-based line, chain text): the code up to the call, extended
    * back a line at a time while the chain so far closes more
    * parentheses than it opens or starts with a `.` (a continuation).
    * Comment lines and trailing `//` comments are not code.
    */
  private def collectChains(lines: Seq[String]): Seq[(Int, String)] = {
    val code = lines.map(l => if (isComment(l)) "" else l.replaceAll("\\s+//.*$", ""))
    def open(t: String) = t.count(_ == '(') - t.count(_ == ')')
    code.indices.flatMap { i =>
      val call = ".collect()"
      Iterator.iterate(code(i).indexOf(call))(p => code(i).indexOf(call, p + 1))
        .takeWhile(_ >= 0).map { p =>
          var chain = code(i).take(p + call.length)
          var j = i
          while (j > 0 && (open(chain) < 0 || chain.trim.startsWith("."))) {
            j -= 1
            chain = code(j) + "\n" + chain
          }
          (i + 1, chain)
        }
    }
  }

  /** True when `chain` has a `.limit(` outside every parenthesis: the
    * collected frame itself is cut to k rows, not a frame nested in an
    * argument.
    */
  private def limitsItself(chain: String): Boolean = {
    var depth = 0
    chain.indices.reverse.exists { p =>
      chain(p) match {
        case ')' => depth += 1
        case '(' => depth -= 1
        case _ =>
      }
      depth == 0 && chain.startsWith(".limit(", p)
    }
  }

  /** `file:line` of every `.collect()` in `code` whose chain does not
    * cut its own frame with `limit`.
    */
  private def unboundedCollects(code: Map[String, Seq[String]]): Seq[String] =
    code.toSeq.sortBy(_._1).flatMap { case (f, lines) =>
      collectChains(lines).collect { case (n, chain) if !limitsItself(chain) => s"$f:$n" }
    }

  /** Member methods (two-space-indented `def`s) of `file` under the
    * main source root with a code line calling `name(`; the definition
    * line itself does not count.
    */
  private def callersIn(file: String, name: String): Set[String] = {
    val member = raw"^  (?:override\s+)?(?:private(?:\[\w+\])?\s+)?def\s+(\w+).*".r
    val call = raw"\b$name\(".r
    var method = ""
    Files.readAllLines(mainRoot.resolve(file)).asScala.flatMap { line =>
      line match { case member(m) => method = m; case _ => }
      val t = line.trim
      val code = !(t.startsWith("*") || t.startsWith("//") || t.startsWith("/*"))
      if (code && call.findFirstIn(t).isDefined && !t.contains(s"def $name("))
        Some(method)
      else None
    }.toSet
  }

  /** `src` with every comment blanked to spaces, newlines kept so line
    * numbers hold. String and character literals are kept: a call inside
    * an interpolation is a call, and a comment marker inside a literal
    * opens no comment.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def blank(j: Int): Unit = while (i < j) {
      out += (if (src(i) == '\n') '\n' else ' ')
      i += 1
    }
    def copy(j: Int): Unit = { out ++= src.substring(i, j); i = j }
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        blank(if (e < 0) n else e)
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (depth > 0 && j < n) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(math.min(j, n))
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) n else e + 3
        while (j < n && src(j) == '"') j += 1
        copy(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        copy(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') copy(i + 3)
      else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') copy(i + 4)
      else copy(i + 1)
    }
    out.result()
  }

  /** Comment-stripped lines of every source file that can call the
    * library — `src/main` and the perfbench harness, which calls the
    * product-store API directly — keyed by path relative to its source
    * root (`graft/operators/Dedup.scala`).
    */
  private lazy val callerCode: Map[String, IndexedSeq[String]] =
    Seq(mainRoot, Paths.get("perfbench", "src", "main", "scala")).flatMap { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.toList.filter(_.toString.endsWith(".scala")).map { p =>
        root.relativize(p).toString -> stripComments(Files.readString(p)).split("\n", -1).toIndexedSeq
      }
      finally s.close()
    }.toMap

  /** A public `def` declared directly in an object, class or trait (not
    * inside another def): its site `Owner.name`, the owner's kind and
    * supertypes, and the 0-based lines of its own body.
    */
  private case class PublicDef(file: String, line: Int, owner: String, isObject: Boolean,
      supers: Set[String], name: String, body: Range) {
    def site: String = s"$owner.$name"
  }

  private val ownerDecl = raw"\s*(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(object|class|trait)\s+(\w+).*".r
  private val defDecl = raw"\s*((?:(?:final|override|implicit|protected(?:\[\w+\])?|private(?:\[\w+\])?)\s+)*)def\s+(\w+).*".r
  private val supertype = raw"\b(?:extends|with)\s+(\w+)".r

  /** The public defs of one file's comment-stripped `lines`. Scopes
    * follow indentation: a line at or left of an open scope's indent
    * closes it, unless it starts with `}` or `)`.
    */
  private def publicDefs(file: String, lines: IndexedSeq[String]): Seq[PublicDef] = {
    def indent(l: String) = l.length - l.dropWhile(_ == ' ').length
    def closes(t: String) = t.startsWith("}") || t.startsWith(")")
    val scopes = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Set[String])]
    val out = Seq.newBuilder[PublicDef]
    lines.indices.foreach { i =>
      val l = lines(i)
      val t = l.trim
      if (t.nonEmpty) {
        val ind = indent(l)
        while (scopes.nonEmpty && scopes.last._1 >= ind && !closes(t)) scopes.remove(scopes.length - 1)
        l match {
          case ownerDecl(kind, name) =>
            val header = lines.slice(i, i + 8).mkString(" ")
            val head = header.indexOf('{') match { case -1 => header; case k => header.take(k) }
            scopes += ((ind, kind, name, supertype.findAllMatchIn(head).map(_.group(1)).toSet))
          case defDecl(mods, name) =>
            val owners = scopes.filter(_._2 != "def")
            val public = !Seq("private", "protected", "override").exists(mods.contains)
            if (public && owners.nonEmpty && !scopes.exists(_._2 == "def")) {
              var j = i + 1
              while (j < lines.length && {
                  val next = lines(j)
                  next.trim.isEmpty || indent(next) > ind || (indent(next) == ind && closes(next.trim))
                }) j += 1
              val (_, kind, owner, supers) = owners.last
              out += PublicDef(file, i + 1, owner, kind == "object", supers, name, i until j)
            }
            scopes += ((ind, "def", name, Set.empty[String]))
          case _ =>
        }
      }
    }
    out.result()
  }

  /** One identifier occurrence that is not a declaration's name: its
    * file and 0-based line, the identifier before a `.` in front of it,
    * whether a `.` precedes it, and whether `(` or `[` follows it.
    */
  private case class Use(file: String, line: Int, qualifier: Option[String], dotted: Boolean,
      applied: Boolean)

  private val ident = raw"[A-Za-z_]\w*".r
  private val qualifierBefore = raw"(\w+)\s*\.$$".r.unanchored

  /** Each def of `code` (comment-stripped lines per file) in a file
    * `scoped` selects with no caller, as `file:line Owner.name`, unless
    * `allowed` names its site. A use is a call when it is `Owner.name`,
    * `Owner(..)` for `apply`, an unqualified `name(`/`name[` in the
    * owner's own file, or — for a class or trait member, or an object
    * that implements a supertype — `.name` in a file that names the
    * owner or a supertype; a common name on some other receiver is no
    * call. A use inside the def's own body or inside the body of a def
    * without a caller does not count, repeated until nothing changes,
    * so a helper whose last caller is dead is dead too.
    */
  private def uncalledDefs(code: Map[String, IndexedSeq[String]], scoped: String => Boolean,
      allowed: String => Boolean): Seq[String] = {
    val uses = code.toSeq.flatMap { case (f, lines) =>
      lines.indices.flatMap { k =>
        val l = lines(k)
        ident.findAllMatchIn(l).flatMap { m =>
          val before = l.substring(0, m.start).reverse.dropWhile(_.isWhitespace).reverse
          if (before.endsWith("def") && !before.dropRight(3).lastOption.exists(_.isLetterOrDigit)) None
          else {
            val dotted = before.endsWith(".")
            val q = if (dotted) qualifierBefore.findFirstMatchIn(before).map(_.group(1)) else None
            val applied = l.substring(m.end).dropWhile(_ == ' ').headOption.exists(c => c == '(' || c == '[')
            Some(m.matched -> Use(f, k, q, dotted, applied))
          }
        }
      }
    }.groupMap(_._1)(_._2)
    val idents = code.map { case (f, lines) => f -> ident.findAllIn(lines.mkString("\n")).toSet }
    val defs = code.toSeq.sortBy(_._1).collect { case (f, lines) if scoped(f) => publicDefs(f, lines) }.flatten
    def called(d: PublicDef, dead: Seq[PublicDef]): Boolean = {
      val types = d.supers + d.owner
      val own = uses.getOrElse(d.name, Nil).filter { u =>
        u.qualifier.contains(d.owner) ||
          (u.file == d.file && !u.dotted && u.applied) ||
          ((!d.isObject || d.supers.nonEmpty) && u.dotted &&
            (u.file == d.file || idents(u.file).exists(types)))
      }
      val viaApply =
        if (d.name == "apply") uses.getOrElse(d.owner, Nil).filter(_.applied) else Nil
      (own ++ viaApply).exists { u =>
        !(u.file == d.file && d.body.contains(u.line)) &&
          !dead.exists(x => x.file == u.file && x.body.contains(u.line))
      }
    }
    var dead = Seq.empty[PublicDef]
    var next = defs.filter(d => !allowed(d.site) && !called(d, dead))
    while (next != dead) {
      dead = next
      next = defs.filter(d => !allowed(d.site) && !called(d, dead))
    }
    dead.map(d => s"${d.file}:${d.line} ${d.site}")
  }

  private val sinkApi = "streaming sink API: a deployment starts the sink and reads " +
    "its state back; the sink's spec drives it end to end"

  /** Public operator defs that stay without a caller in the program,
    * each with the reason it stays.
    */
  private val uncalledAllowed: Map[String, String] = Map(
    "TopK.perGroup" ->
      "reference: NativeExpressionDifferentialSpec checks the native top-k aggregate against it",
    "Dedup.simHashNearDup" ->
      "reference: DedupSpec checks simHashNearDupDirect against it",
    "LinkGraph.shortestPaths" ->
      ("reference: LinkGraphSpec checks shortestPathsBounded against it, and the " +
        "bounded form's node-limit error names it for larger graphs"),
    "Dsir.featureTotals" -> "frozen-model input of DsirStream.start",
    "Dsir.unseenTerm" -> "frozen-model input of DsirStream.start",
    "CoresetStream.start" -> sinkApi,
    "CoverStream.start" -> sinkApi,
    "CoverStream.selection" -> sinkApi,
    "DedupStream.start" -> sinkApi,
    "DedupStream.statuses" -> sinkApi,
    "DriftStream.start" -> sinkApi,
    "DriftStream.summaries" -> sinkApi,
    "DsirStream.start" -> sinkApi,
    "DsirStream.scores" -> sinkApi,
    "IndexStream.start" -> sinkApi,
    "IndexStream.sparseKnn" -> sinkApi,
    "IngestStream.start" -> sinkApi,
    "IvfStream.start" -> sinkApi,
    "IvfStream.topK" -> sinkApi)

  test("def main appears only in the six harness mains") {
    assert(filesWith("def main(") ===
      Set("Bench", "Verify", "Smoke", "Explain", "GenData", "ProfQ"))
  }

  test("SparkSession.builder appears only in Bench, GraftEngine, Smoke and GenData") {
    assert(filesWith("SparkSession.builder") ===
      Set("Bench", "GraftEngine", "Smoke", "GenData"))
  }

  test("foreachBatch appears only in the slice store") {
    // every streaming sink starts through SliceStore.start, so the
    // replay contract lives in one file
    assert(filesWith(".foreachBatch") === Set("SliceStore"))
  }

  test("a product store version is named and published in one method") {
    // every parquet write builds its version through publishVersion, so
    // the write lock, the publish and the failure cleanup live in one place
    val store = "graft/operators/ProductStore.scala"
    assert(callersIn(store, "newVersionName") === Set("publishVersion"))
    assert(callersIn(store, "publish") === Set("publishVersion"))
  }

  test("the schema-less read pattern catches every reader-chain spelling") {
    val spellings = Seq(
      """spark.read.parquet(path)""",
      """spark.read.option("basePath", s"$storeDir/$table").parquet(paths: _*)""",
      "spark.read\n  .option(\"a\", f(x))\n  .options(m)\n  .parquet(p)")
    spellings.foreach(sp => assert(schemaLessRead.findFirstIn(sp).isDefined, sp))
    assert(schemaLessRead.findFirstIn("spark.read.schema(s).parquet(p)").isEmpty)
    assert(schemaLessRead.findFirstIn(
      """spark.read.schema(s).option("basePath", b).parquet(p)""").isEmpty)
  }

  test("a schema-less parquet read appears only in TableReads and the allowlist") {
    // TableReads.read infers a table's schema once per listing; a
    // schema-less read elsewhere pays a footer-scan job on every call
    val off = schemaLessReadsOffList(codeByFile)
    assert(off.isEmpty, s"schema-less reads off the allowlist: ${off.mkString("; ")}")
    assert(schemaLessRead.findFirstIn(codeByFile("TableReads").mkString("\n")).isDefined)
  }

  test("the allowlist admits a counted number of schema-less reads per file") {
    // an allowlisted file is not exempt: a second read beside the one
    // listed still fails
    val extra = codeByFile.updated("SparkEntryEvents",
      codeByFile("SparkEntryEvents") :+ "spark.read.parquet(p)")
    assert(schemaLessReadsOffList(extra) ===
      Seq("SparkEntryEvents: 2 in the source, 1 allowed"))
    val fresh = codeByFile.updated("Fresh", Seq("spark.read", ".option(\"a\", b)", ".parquet(p)"))
    assert(schemaLessReadsOffList(fresh) === Seq("Fresh: 1 in the source, 0 allowed"))
  }

  test("localCheckpoint appears only at the audited sites") {
    val classes = linesByFile.map { case (f, lines) => f -> pinClasses(lines) }
      .filter(_._2.nonEmpty)
    val untagged = classes.collect { case (f, cs) if cs.contains(None) => f }
    assert(untagged.isEmpty, "pins without a loop:/determinism:/reuse: tag in " +
      untagged.toSeq.sorted.mkString(", "))
    val counts = classes.map { case (f, cs) =>
      f -> cs.flatten.groupMapReduce(identity)(_ => 1)(_ + _)
    }
    val diff = (counts.keySet ++ auditedPins.keySet).toSeq.sorted.collect {
      case f if counts.getOrElse(f, Map.empty) != auditedPins.getOrElse(f, Map.empty) =>
        s"$f: ${counts.getOrElse(f, Map.empty)} in the source, " +
          s"${auditedPins.getOrElse(f, Map.empty)} audited"
    }
    assert(diff.isEmpty, diff.mkString("; "))
  }

  test("a pin's class is read from its own line or the comment directly above it") {
    val src = Seq(
      "// reuse: read twice",
      "val a = x.localCheckpoint()",
      "val b = y",
      "  .localCheckpoint() // loop: lineage cut",
      "// determinism: frozen",
      "// and read three times",
      "val c = z.localCheckpoint()",
      "// reuse: not directly above the pin",
      "val d = w",
      "  .localCheckpoint()",
      "// a comment line naming localCheckpoint() is no pin")
    assert(pinClasses(src) ===
      Seq(Some("reuse"), Some("loop"), Some("determinism"), None))
  }

  test("a data-dependent collect appears only in DriverRows") {
    // operators/, streaming/ and the SparkEntry* query layer pull driver
    // state through DriverRows.collect/atMost with a stated bound; only
    // a chain that cuts its own frame with limit(k) collects directly
    val scoped = linesByFile.filter { case (f, _) => collectScope(f) }
    assert(scoped.contains("CoverStream") && scoped.contains("TermIndex") &&
      scoped.contains("SparkEntryAnn") && scoped.contains("SparkEntryDedup"))
    val off = unboundedCollects(scoped - "DriverRows")
    assert(off.isEmpty, s"unbounded collects outside DriverRows: ${off.mkString(", ")}")
    assert(unboundedCollects(scoped.filter(_._1 == "DriverRows")).size == 1)
  }

  test("the collect guard admits limit(..).collect() chains and nothing else") {
    val src = Seq(
      "val top = df.orderBy(col(\"a\").desc)", // 1
      ".limit(1).collect()", // 2: admitted across lines
      "val xs = df.groupBy(", // 3
      "col(\"a\"))", // 4
      ".agg(count(lit(1)))", // 5
      ".collect()", // 6: no limit
      "val s = df.orderBy(c).limit(n)", // 7
      ".select(x)", // 8
      ".collect()", // 9: admitted, the limit is the chain's own
      "val y = a.join(b.limit(5)).collect()", // 10: limit nested in an argument
      "// a comment naming df.collect() is no call", // 11
      "val z = xs.collect { case r => r }", // 12: a Scala collection collect
      "val w = d.collect() // .limit(1)") // 13: a comment is not a limit
    assert(unboundedCollects(Map("Src" -> src)) === Seq("Src:6", "Src:10", "Src:13"))
    val fresh = Map("Fresh" -> Seq("val rows = spark.table(\"t\")", ".filter(col(\"x\") > 0)",
      ".collect()"))
    assert(unboundedCollects(fresh) === Seq("Fresh:3"))
  }

  test("every public operator def has a caller in the program") {
    // a public def in operators/ or streaming/ that only tests call is
    // library surface no query, service call or sink runs: delete it,
    // or give it a caller, or list it above with its reason
    val inScope = (f: String) =>
      f.startsWith("graft/operators/") || f.startsWith("graft/streaming/")
    assert(callerCode.keySet.count(inScope) === operatorFiles.size)
    val off = uncalledDefs(callerCode, inScope, uncalledAllowed.contains)
    assert(off.isEmpty, s"public defs without a caller: ${off.mkString(", ")}")
    val stale = uncalledAllowed.keySet -- callerCode.toSeq.filter(f => inScope(f._1))
      .flatMap { case (f, lines) => publicDefs(f, lines) }.map(_.site)
    assert(stale.isEmpty, s"allowlisted sites that no longer exist: ${stale.mkString(", ")}")
  }

  test("the caller guard: a common name on another receiver is no call") {
    val code = Map(
      "Sink.scala" -> IndexedSeq(
        "object Sink {", // 1
        "  def start(x: Int): Int = start(x - 1)", // 2: recursion is its own body
        "  def read(): Int = helper()", // 3
        "  def helper(): Int = 1", // 4: its one caller is read, which has none
        "  def used(): Int = 2", // 5
        "}"),
      "Store.scala" -> IndexedSeq(
        "trait Store {", // 1
        "  def append(x: Int): Unit", // 2
        "}"),
      "Caller.scala" -> IndexedSeq(
        "object Caller {",
        "  def run(): Unit = {",
        "    query.start(1); sb.append(1); spark.read.parquet(p)",
        "    Sink.used()",
        "  }",
        "}"))
    val scoped = Set("Sink.scala", "Store.scala")
    assert(uncalledDefs(code, scoped, _ => false) === Seq(
      "Sink.scala:2 Sink.start", "Sink.scala:3 Sink.read", "Sink.scala:4 Sink.helper",
      "Store.scala:2 Store.append"))
    assert(uncalledDefs(code, scoped, Set("Sink.read", "Sink.start", "Store.append")) === Seq.empty)
    val stripped = stripComments("a(1) // Sink.read()\n/* x.used() */ b(\"// c\") ' '")
    assert(stripped.split("\n", -1).toSeq.map(_.trim) === Seq("a(1)", "b(\"// c\") ' '"))
  }

  test("query-name validation names every unknown query and passes known ones") {
    val e = intercept[IllegalArgumentException](
      ProfHarness.queryNames(Seq("q_group_agg", "q_nope", "q_typo")))
    assert(e.getMessage === "unknown query name(s): q_nope, q_typo")
    assert(ProfHarness.queryNames(Seq("q_group_agg")) === Seq("q_group_agg"))
  }
}
