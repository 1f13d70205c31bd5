package graft

import java.nio.file.{Files, Paths}

/** Doc-sync gate (r8 VERDICT task 2): the preflight hook runs this
  * after compile, so a commit whose documented inventory disagrees
  * with the tree is refused the same way a non-compiling one is.
  *
  * Checks (all against the live `SparkEntry` maps, no SparkSession):
  *   1. README.md's "(N keys, M DuckDB-oracled)" line matches
  *      `queries.size` / `oracleSql.size`.
  *   2. SURVEY.md's inventory-totals block claims the same two counts
  *      ("-> N engine query keys", "M with\nDuckDB oracles").
  *   3. Every key in `SparkEntry.queries` appears as a literal
  *      somewhere in SURVEY.md (the per-key contract row).
  *   4. Every oracled key's SQL is non-empty, and no oracle names a
  *      key that has no query (a dangling oracle would NPE in Verify).
  *   5. The sha256 of every key's rendered oracle SQL matches its line
  *      in tools/oracle_sql.sha256 (sorted `key<TAB>sha256`). A change
  *      that moves code without touching an oracle leaves the file as
  *      it is; one that changes an oracle edits its line and says why.
  *
  * Exit 0 = in sync; exit 1 prints every violation.
  */
object DocSync {
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0) else "."
    def read(p: String) = new String(
      Files.readAllBytes(Paths.get(root, p)), "UTF-8")
    val readme = read("README.md")
    val survey = read("SURVEY.md")

    val q = SparkEntry.queries
    val o = SparkEntry.oracleSql
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]

    // 1. README totals
    val rmPat = """\((\d+) keys, (\d+) DuckDB-oracled\)""".r
    rmPat.findFirstMatchIn(readme) match {
      case Some(m) =>
        if (m.group(1).toInt != q.size || m.group(2).toInt != o.size)
          errs += s"README.md says (${m.group(1)} keys, ${m.group(2)} " +
            s"oracled); tree has (${q.size} keys, ${o.size} oracled)"
      case None => errs += "README.md lacks the '(N keys, M DuckDB-oracled)' line"
    }

    // 2. SURVEY totals
    val svKeys = """(\d+) engine query keys""".r
    svKeys.findFirstMatchIn(survey) match {
      case Some(m) if m.group(1).toInt != q.size =>
        errs += s"SURVEY.md totals say ${m.group(1)} engine query keys; " +
          s"tree has ${q.size}"
      case None => errs += "SURVEY.md lacks the 'N engine query keys' totals line"
      case _ =>
    }
    val svOr = """(\d+) with\s*\nDuckDB oracles""".r
    svOr.findFirstMatchIn(survey) match {
      case Some(m) if m.group(1).toInt != o.size =>
        errs += s"SURVEY.md totals say ${m.group(1)} with DuckDB oracles; " +
          s"tree has ${o.size}"
      case None => errs += "SURVEY.md lacks the 'M with DuckDB oracles' totals line"
      case _ =>
    }

    // 3. every key documented in SURVEY
    val undocumented = q.keys.filterNot(k => survey.contains(k)).toSeq.sorted
    if (undocumented.nonEmpty)
      errs += s"keys with no SURVEY.md literal (${undocumented.size}): " +
        undocumented.mkString(", ")

    // 4. oracle hygiene
    val dangling = o.keys.filterNot(q.contains).toSeq.sorted
    if (dangling.nonEmpty)
      errs += s"oracles with no query: ${dangling.mkString(", ")}"
    val empty = o.collect { case (k, sql) if sql.trim.isEmpty => k }.toSeq.sorted
    if (empty.nonEmpty)
      errs += s"empty oracle SQL: ${empty.mkString(", ")}"

    // 5. oracle fingerprint
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    val rendered = o.toSeq.sortBy(_._1).map { case (k, sql) =>
      k + "\t" + sha.digest(sql.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val pinned = read("tools/oracle_sql.sha256").split("\n").toSeq.filter(_.nonEmpty)
    val drift = (rendered.diff(pinned) ++ pinned.diff(rendered))
      .map(_.takeWhile(_ != '\t')).distinct.sorted
    if (drift.nonEmpty)
      errs += s"oracle SQL differs from tools/oracle_sql.sha256 " +
        s"(${drift.size}): ${drift.mkString(", ")}"

    if (errs.nonEmpty) {
      Console.err.println(s"[docsync] OUT OF SYNC (${errs.size}):")
      errs.foreach(e => Console.err.println(s"[docsync]   - $e"))
      sys.exit(1)
    }
    println(s"[docsync] OK: ${q.size} keys, ${o.size} oracled, " +
      s"all keys documented in SURVEY.md, oracle SQL matches its fingerprints")
  }
}
