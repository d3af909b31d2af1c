package graft

/** Generates CATALOG.md — the one-command operator catalog (round-12
  * stretch #8): one row per gated query with the operator call it
  * dispatches to, the operator's definition site, and where PLANS.md
  * discusses it. Every gate carries its DuckDB twin by construction
  * (`Gate.oracle`), so there is no oracle column. Everything derives
  * from the SparkEntry registry + a lexical scan of the sources, so the
  * catalog cannot drift silently: CatalogSpec fails `sbt test` whenever
  * the committed file disagrees with a fresh generation.
  *
  * Regenerate: `sbt "Test/runMain graft.CatalogGen"`.
  */
object CatalogGen {

  private val repo = java.nio.file.Paths.get(".").toAbsolutePath.normalize

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(repo.resolve(p)), "UTF-8")

  /** gate name -> (SparkEntry line, candidate operator expressions) parsed
    * from the registry source: every `Obj.method(` token in the entry's
    * window after its build lambda's `=>` (so the oracle argument never
    * counts), harness symbols excluded — the renderer keeps the first
    * candidate that resolves to a `def` in src/main. */
  private val HarnessObjects =
    Set("Tables", "RunHygiene", "Seq", "Map", "Paths", "System", "Files",
      "UUID", "Window", "Duration", "Params", "OracleSql", "OracleSqlText")

  private def registryEntries(src: String): Map[String, (Int, Seq[String])] = {
    val lines = src.split("\n", -1)
    val entry = """^\s*Gate\("([a-z0-9_]+)",""".r
    val names = SparkEntry.queries.keySet
    val call = """((?:graft\.[a-z]+\.)?[A-Z][A-Za-z0-9]*\.[a-z][A-Za-z0-9]*)\s*\(""".r
    var out = Map.empty[String, (Int, Seq[String])]
    var i = 0
    while (i < lines.length) {
      entry.findFirstMatchIn(lines(i)).map(_.group(1)) match {
        case Some(name) if names.contains(name) && !out.contains(name) =>
          val window = lines.slice(i, math.min(i + 16, lines.length))
            .takeWhile(l => !entry.findFirstMatchIn(l).exists(m =>
              m.group(1) != name && names.contains(m.group(1))))
            .mkString(" ")
          val build = window.substring(window.indexOf("=>") + 2)
          val ops = call.findAllMatchIn(build).map(_.group(1)).toSeq
            .filterNot(op => HarnessObjects.contains(
              op.stripPrefix("graft.").split("\\.").takeRight(2).head))
            .distinct
          out += name -> (i + 1, ops)
        case _ =>
      }
      i += 1
    }
    out
  }

  /** Resolve `Obj.method` to its `def method` site, searching files whose
    * name contains Obj first (the repo convention), then everywhere. */
  private def defSites(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(repo.resolve("src/main/scala"))
      .iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toVector
    val bodies = files.map(p => p -> read(repo.relativize(p).toString))
    var cache = Map.empty[String, String]
    def find(op: String): String = cache.getOrElse(op, {
      val Array(obj, m) = op.stripPrefix("graft.").split("\\.").takeRight(2)
      val rx = (s"""\\bdef\\s+$m\\b""").r
      val ordered = bodies.sortBy { case (p, _) =>
        if (p.getFileName.toString == s"$obj.scala") 0
        else if (p.toString.contains(obj)) 1 else 2
      }
      val hit = ordered.iterator.flatMap { case (p, body) =>
        val objHit = body.contains(s"object $obj") || p.getFileName.toString == s"$obj.scala"
        if (!objHit) Iterator.empty
        else rx.findFirstMatchIn(body).map { mm =>
          val line = body.substring(0, mm.start).count(_ == '\n') + 1
          s"${repo.relativize(p)}:$line"
        }.iterator
      }.toSeq.headOption
      val site = hit.getOrElse("—")
      cache += op -> site
      site
    })
    registryEntries(read("src/main/scala/graft/SparkEntry.scala"))
      .values.flatMap(_._2).toSet
      .map((op: String) => op -> find(op)).toMap
  }

  /** First PLANS.md line mentioning the gate (backticked or bare). */
  private def plansLines(): Map[String, Int] = {
    val lines = read("PLANS.md").split("\n", -1)
    SparkEntry.queries.keySet.iterator.map { name =>
      val i = lines.indexWhere(l => l.contains(s"`$name`") || l.contains(s" $name "))
      name -> (i + 1)
    }.filter(_._2 > 0).toMap
  }

  def render(): String = {
    val reg = registryEntries(read("src/main/scala/graft/SparkEntry.scala"))
    val sites = defSites()
    val plans = plansLines()
    val sb = new StringBuilder
    sb.append("# Operator catalog\n\n")
    sb.append("GENERATED — do not edit by hand; regenerate with\n")
    sb.append("`sbt \"Test/runMain graft.CatalogGen\"` (CatalogSpec pins sync).\n\n")
    sb.append(s"${SparkEntry.queries.size} gated queries. Every gate is " +
      "oracle-gated (DuckDB twin, exact hash); " +
      "`plans` is the first PLANS.md line discussing the gate.\n\n")
    sb.append("| gate | operator | defined at | registry | plans |\n")
    sb.append("|---|---|---|---|---|\n")
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val (regLine, candidates) = reg.getOrElse(name, (0, Nil))
      // the first candidate call resolving to a def in src/main is the
      // operator; a lambda built purely of DataFrame verbs is "(inline)"
      val resolved = candidates.iterator
        .map(op => op -> sites.getOrElse(op, "—")).find(_._2 != "—")
      val (op, site) = resolved.getOrElse(("(inline)", "SparkEntry.scala"))
      val pl = plans.get(name).map(l => s"PLANS.md:$l").getOrElse("—")
      sb.append(s"| `$name` | `$op` | $site | SparkEntry.scala:$regLine | $pl |\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val out = repo.resolve("CATALOG.md")
    java.nio.file.Files.write(out, render().getBytes("UTF-8"))
    println(s"[catalog] wrote $out (${SparkEntry.queries.size} rows)")
  }
}
