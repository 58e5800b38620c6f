package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/**
 * Compile-to-source parity (reference: sqlplus-core
 * compile/SqlPlusCompiler.scala + codegen/SparkSQLPlusExampleCodeGenerator.scala,
 * CLI options `--package`/`--object` in sqlplus-cli
 * CliFrontendOptions.java:28-36): emit a RUNNABLE standalone Scala
 * program for a query text — the generated artifact a reference user
 * gets from its compiler. The program carries:
 *
 *   - one reader line per file-backed source view (format, options,
 *     schema, path — recovered from the session catalog's resolved
 *     relations, the same way the reference's codegen reads its
 *     catalog's table properties);
 *   - a `CREATE TEMPORARY VIEW` replay for SQL-defined views (their
 *     view text survives in the analyzed plan);
 *   - the dry-run plan dump ([[RouteRecord.render]] of one door run) as
 *     the header comment — the chosen join tree, bound carriers, and
 *     routed fast path at generation time;
 *   - the query itself, executed through [[CqcSql.solve]] (the graft
 *     library plays the role of the reference's sqlplus-lib runtime
 *     dependency in its generated programs).
 */
object Emit {

  def program(
      spark: SparkSession,
      sqlText: String,
      objectName: String = "GraftQuery",
      packageName: String = "graft.generated"): String = {
    // run the door ONCE: the header dump, the sequence below and the
    // pinned run all read the same record, whose tree honors a
    // /*+ ROOT(x) */ comment in the text exactly like execution
    val (dump, tree) = CqcSql.inspect(spark, sqlText) { rec =>
      (rec.render, rec.outermost.filter(_.rels.size >= 2).flatMap(_.tree.toOption))
    }
    val dumpLines = dump.linesIterator.map(l => s" *   $l").mkString("\n")
    val srcLines = recoverSources(spark, sqlText).map(l => s"    $l").mkString("\n")
    val seqLines = operatorSequence(tree)
      .map(l => s" *   $l").mkString("\n")
    // pin the generation-time enumeration root: join trees of an acyclic
    // body are result-equivalent, but the emitted program should RUN the
    // sequence it prints (the reference's generated code hard-codes its
    // compiled plan the same way); the API-level pin wins over the
    // comment hint, which is correct because the pin WAS the hint's
    // resolution at generation time. Cyclic/fallback bodies carry no
    // root and run the unpinned door.
    val solveLine = tree match {
      case Some(t) => s"""graft.sql.CqcSql.solveWithRoot(spark, query, "${t.root}")"""
      case None => "graft.sql.CqcSql.solve(spark, query)"
    }

    s"""package $packageName
       |
       |import org.apache.spark.sql.{DataFrame, SparkSession}
       |
       |/** GENERATED by graft ([[graft.sql.Emit.program]]) — do not edit.
       | * Plan at generation time (dry-run):
       |$dumpLines
       | *
       | * Synthesized operator sequence (what `run` executes, in order):
       |$seqLines
       | */
       |object $objectName {
       |
       |  val query: String =
       |    \"\"\"${sqlText.linesIterator.mkString("\n      |")}\"\"\".stripMargin
       |
       |  /** Register sources and run the query through the graft door,
       |    * pinned to the generation-time enumeration root above. */
       |  def run(spark: SparkSession): DataFrame = {
       |$srcLines
       |    $solveLine
       |  }
       |
       |  def main(args: Array[String]): Unit = {
       |    val spark = SparkSession.builder()
       |      .master(scala.sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
       |      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
       |      .config("spark.sql.session.timeZone", "UTC")
       |      .getOrCreate()
       |    spark.sparkContext.setLogLevel("WARN")
       |    val result = run(spark)
       |    val ts1 = System.currentTimeMillis()
       |    val cnt = result.count()
       |    val ts2 = System.currentTimeMillis()
       |    println("$objectName-SparkSQLPlus cnt: " + cnt)
       |    println("$objectName-SparkSQLPlus time: " + (ts2 - ts1) / 1000f)
       |    result.show(args.headOption.map(_.toInt).getOrElse(20), truncate = false)
       |    spark.stop()
       |  }
       |}
       |""".stripMargin
  }

  /** The stock-SparkSQL comparison twin of [[program]]: same recovered
    * sources, same query text, executed by plain `spark.sql` with no
    * graft routing. The reference pairs every compiled program with
    * exactly this artifact (sqlplus-core
    * codegen/AbstractSparkSQLCodeGenerator.scala:26 and
    * SparkSQLExperimentCodeGenerator.scala; sqlplus-example ships a
    * `QueryNSparkSQL` object beside each `QueryNSparkSQLPlus`), so a
    * user can run the un-optimized plan side by side and compare rows
    * and wall time. Naming follows the reference: the twin is
    * `<objectName>SparkSQL`. Its `main` times `.count()` and prints
    * `<name>-SparkSQL cnt/time`, the reference twin's output contract
    * (AbstractSparkSQLCodeGenerator.scala:101-109). */
  def stockProgram(
      spark: SparkSession,
      sqlText: String,
      objectName: String = "GraftQuery",
      packageName: String = "graft.generated"): String = {
    val srcLines = recoverSources(spark, sqlText).map(l => s"    $l").mkString("\n")
    s"""package $packageName
       |
       |import org.apache.spark.sql.{DataFrame, SparkSession}
       |
       |/** GENERATED by graft ([[graft.sql.Emit.stockProgram]]) — do not edit.
       | * Stock-SparkSQL comparison twin of `$objectName`: identical sources
       | * and query text, executed by plain `spark.sql` (Catalyst's own plan,
       | * no CQC routing) — run both and compare rows + wall time. */
       |object ${objectName}SparkSQL {
       |
       |  val query: String =
       |    \"\"\"${sqlText.linesIterator.mkString("\n      |")}\"\"\".stripMargin
       |
       |  /** Register sources and run the query through STOCK Spark SQL. */
       |  def run(spark: SparkSession): DataFrame = {
       |$srcLines
       |    spark.sql(query)
       |  }
       |
       |  def main(args: Array[String]): Unit = {
       |    val spark = SparkSession.builder()
       |      .master(scala.sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
       |      .config("spark.sql.session.timeZone", "UTC")
       |      .getOrCreate()
       |    spark.sparkContext.setLogLevel("WARN")
       |    val result = run(spark)
       |    val ts1 = System.currentTimeMillis()
       |    val cnt = result.count()
       |    val ts2 = System.currentTimeMillis()
       |    println("$objectName-SparkSQL cnt: " + cnt)
       |    println("$objectName-SparkSQL time: " + (ts2 - ts1) / 1000f)
       |    result.show(args.headOption.map(_.toInt).getOrElse(20), truncate = false)
       |    spark.stop()
       |  }
       |}
       |""".stripMargin
  }

  /** Write a generated program to `outPath` and, when `twin` is given,
    * the stock comparison program beside it as `<stem>SparkSQL.scala`
    * (the sqlplus-example pairing convention) — the ONE persistence
    * convention shared by `Cli --output` and the web console's persist
    * endpoint. Returns the written paths in order. */
  def writePair(outPath: java.nio.file.Path, prog: String,
                twin: Option[String]): Seq[java.nio.file.Path] = {
    java.nio.file.Files.write(outPath, prog.getBytes("UTF-8"))
    val t = twin.map { body =>
      val p = outPath.resolveSibling(
        outPath.getFileName.toString.stripSuffix(".scala") + "SparkSQL.scala")
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
      p
    }
    Seq(outPath) ++ t
  }

  /** Leaf-most aliases = actual source views (outer aliases like
    * `FROM edges g1` wrap them and carry no source of their own); one
    * generated registration line per view, emission order = first
    * appearance in the analyzed plan. Shared by [[program]] and its
    * stock twin so the pair always reads identical inputs. */
  private def recoverSources(spark: SparkSession, sqlText: String): Seq[String] = {
    val analyzed = spark.sql(sqlText).queryExecution.analyzed
    val sources = scala.collection.mutable.LinkedHashMap[String, String]()
    analyzed.foreach {
      case sa: SubqueryAlias
          if sa.child.collectFirst { case s2: SubqueryAlias => s2 }.isEmpty =>
        val name = sa.alias
        if (!sources.contains(name)) sources(name) = sourceLine(name, sa.child)
      case _ => ()
    }
    sources.values.toSeq
  }

  /** The synthesized operator sequence, one numbered step per line —
    * exactly the pass structure [[graft.cqc.Yannakakis.solveWithTree]]
    * executes for this body (the reference emits its compiled operator
    * pipeline into generated source the same way; graft renders it in
    * the program header and pins the run to it). Cyclic or fallback
    * bodies get a pointer to the dry-run dump instead. */
  private def operatorSequence(treeOpt: Option[graft.cqc.JoinTree]): Seq[String] = try {
    if (treeOpt.isEmpty)
      return Seq("(no acyclic conjunctive core: routing per the dry-run dump above)")
    val tree = treeOpt.get
    val rels = tree.rels.values.toSeq
    var i = 0
    def step(s: String): String = { i += 1; f"$i%2d. $s" }
    val scans = tree.topDown.map(n =>
      step(s"scan $n(${rels.find(_.name == n).map(_.vars.toSeq.sorted.mkString(",")).getOrElse("")})"))
    val up = tree.bottomUp.flatMap { n =>
      tree.parentOf.get(n).flatMap { p =>
        val shared = tree.sharedVars(n, p)
        if (shared.isEmpty) None
        else Some(step(s"$p := $p LEFT-SEMI-JOIN $n ON [${shared.mkString(",")}]  (bottom-up reduce)"))
      }
    }
    val down = tree.topDown.drop(1).flatMap { n =>
      val p = tree.parentOf(n)
      val shared = tree.sharedVars(n, p)
      if (shared.isEmpty) None
      else Some(step(s"$n := $n LEFT-SEMI-JOIN $p ON [${shared.mkString(",")}]  (top-down reduce)"))
    }
    val enum0 = step(s"out := ${tree.root}  (enumeration root)")
    val enum = tree.topDown.drop(1).map { n =>
      val shared = tree.sharedVars(n, tree.parentOf(n))
      step(s"out := out JOIN $n ON [${shared.mkString(",")}]  (output-sensitive enumeration)")
    }
    scans ++ up ++ down ++ (enum0 +: enum) :+
      step("project the SELECT list over the enumerated variables")
  } catch {
    case scala.util.control.NonFatal(e) =>
      Seq(s"(sequence unavailable: ${e.getClass.getSimpleName})")
  }

  /** One source view -> one line of generated code (or an explanatory
    * comment when the view cannot be reconstructed from the catalog). */
  private def sourceLine(name: String, plan: LogicalPlan): String = {
    def fileReader(lr: LogicalRelation): Option[String] = lr.relation match {
      case fs: HadoopFsRelation =>
        val fmt = fs.fileFormat.toString.toLowerCase match {
          case f if f.contains("parquet") => "parquet"
          case f if f.contains("csv") => "csv"
          case f if f.contains("json") => "json"
          case f if f.contains("orc") => "orc"
          case other => other
        }
        val path = fs.location.rootPaths.map(_.toString).mkString(",")
        val opts = fs.options.filterNot { case (k, _) => k == "path" }
          .map { case (k, v) => s""".option("${esc(k)}", "${esc(v)}")""" }.mkString
        val schema = esc(fs.dataSchema.toDDL)
        Some(s"""spark.read.format("$fmt").schema("$schema")$opts.load("${esc(path)}").createOrReplaceTempView("$name")""")
      case _ => None
    }
    plan match {
      case v: View if v.desc.viewText.isDefined =>
        val text = v.desc.viewText.get
        s"""spark.sql(\"\"\"CREATE OR REPLACE TEMPORARY VIEW $name AS ${text.linesIterator.mkString(" ")}\"\"\")"""
      case p if onlyRelation(p) =>
        p.collectFirst { case lr: LogicalRelation => lr }
          .flatMap(fileReader)
          .getOrElse(
            s"""// source "$name": non-file relation — must pre-exist in the session""")
      case _ =>
        s"""// source "$name": derived view without SQL text — must pre-exist in the session"""
    }
  }

  /** True when the plan is a bare relation (no transformation whose
    * semantics a plain reader line would silently drop). */
  private def onlyRelation(plan: LogicalPlan): Boolean = plan match {
    case _: LogicalRelation => true
    case v: View => onlyRelation(v.child)
    case _ => false
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }
}
