package graft
import org.apache.spark.sql.SparkSession

/** Plan-audit tool: `runMain graft.Explain <query> [sfDir]` prints the
  * formatted physical plan of a registered query — the dev loop for checking
  * pushdown, broadcast, and codegen span before trusting a bench number. */
object Explain {

  /** `Explain all` audits the FULL registry minus the streaming drains:
    * invoking a drain executes its bounded streaming topology (stage temp
    * input → run → drain) rather than returning a plannable batch frame,
    * so their sink/state plans are exercised by StreamingSpec instead.
    * Every batch query gets a committed formatted plan in EXPLAINS.md —
    * the cheapest plan-regression tripwire the repo has. */
  def auditable: Seq[String] =
    SparkEntry.queries.keys.toSeq.filterNot(SparkEntry.drains).sorted

  /** A section that depends only on the plan: expression ids and lambda
    * variable suffixes are renumbered from 0 in order of first appearance,
    * and what each run allocates afresh — plan ids, RDD ids, `_gen-*`
    * generations, `/tmp/graft-*` temp dirs, the staging warehouse's fixture
    * fingerprint (it follows the fixture files' mtimes), JVM lambda class
    * names — is
    * masked, so two dumps of the same code are byte-identical and a diff
    * of EXPLAINS.md shows plan changes only. */
  def normalize(plan: String): String = {
    def renumber(text: String, re: String): String = {
      val ids = scala.collection.mutable.Map.empty[String, Int]
      re.r.replaceAllIn(text, m => scala.util.matching.Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size)))
    }
    val masks = Seq(
      "plan_id=\\d+" -> "plan_id=*",
      "RDD\\[\\d+\\]" -> "RDD[*]",
      "_gen-\\d+" -> "_gen-*",
      "(/tmp/graft-[A-Za-z-]*-)\\d+" -> "$1*",
      "(/graft-warehouse/[^/]+-)[0-9a-f]{12}/" -> "$1*/",
      "\\$\\$Lambda[$\\d]*/0x[0-9a-f]+@[0-9a-f]+" -> "\\$\\$Lambda")
    masks.foldLeft(renumber(renumber(plan, "(#)(\\d+)"),
        "(lambda \\w+?_)(\\d+)")) {
      case (text, (re, to)) => text.replaceAll(re, to)
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.bootstrap(spark)
    if (name == "all") {
      // dump the plans to EXPLAINS.md — the reviewable plan-audit
      // artifact (pushdown / broadcast / exchange placement at a glance)
      val mode = org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
      val out = new StringBuilder
      out ++= "# EXPLAINS — formatted physical plans of every registered batch query\n\n"
      out ++= s"Generated by `runMain graft.Explain all` at $sfDir. See README\n"
      out ++= "§Scale design for what each plan is expected to show.\n"
      out ++= "Excluded: the streaming drains (`SparkEntry.drains`) — invoking\n"
      out ++= "one runs its bounded topology instead of returning a plannable\n"
      out ++= "batch frame; StreamingSpec exercises their sink/state plans.\n"
      auditable.foreach { q =>
        val plan = normalize(SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.explainString(mode))
        // drop the query's persisted intermediates, as Bench and Verify do
        // per entry, so no later plan reads an earlier query's cache
        spark.catalog.clearCache()
        // deep plans (multi-branch pair searches, cached subtrees printed
        // under every read) run to hundreds of lines; the audit value is
        // in the first occurrences of each shape, so cap a runaway dump
        val lines = plan.linesIterator.toSeq
        val capped =
          if (lines.length <= 600) plan
          else lines.take(600).mkString("", "\n",
            s"\n… (truncated at 600 of ${lines.length} lines — the " +
              "remaining rounds repeat the same per-round shape)\n")
        out ++= s"\n## $q\n\n```\n$capped```\n"
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("EXPLAINS.md"), out.toString)
      println(s"wrote EXPLAINS.md (${auditable.size} plans)")
    } else {
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
