package graft.sources

import java.net.URI
import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertIntoStatement, InsertStarAction, Join, JoinHint, LogicalPlan, MergeAction, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, when}
import org.apache.spark.sql.graft.Bridge

import graft.TokenTable
import graft.meta.DataFile

/**
 * SQL write front door (VERDICT r3 next-step 8): a
 * `SparkSessionExtensions` resolution rule that intercepts
 * `INSERT INTO <graft view>` during analysis and rewrites it into a
 * command that commits through the engine's snapshot log — the custom
 * LogicalPlan + Rule route (SURVEY.md §2 U-tier) rather than a write
 * bypass. Without it, Spark's own file-source insert path would "succeed"
 * by dropping unregistered parquet files into the table root — invisible
 * to every scan (observed, see GraftParquetFormat which now blocks that
 * path loudly).
 *
 * Enable with `.config("spark.sql.extensions", "graft.sources.GraftExtensions")`
 * (Maintain.session and the test/bench sessions do). Semantics:
 *  - `INSERT INTO v SELECT ...` → `TokenTable.append` → new snapshot.
 *  - `INSERT OVERWRITE v SELECT ...` → dynamic partition overwrite
 *    (`TokenTable.replacePartitions`): exactly the `source` partitions
 *    present in the query result are replaced — the reference's
 *    partitionOverwriteMode=dynamic write as SQL.
 *  - The TARGETED VIEW stays pinned to its registration snapshot (reads
 *    are time-travel-stable); re-register to see the new version.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => GraftInsertRule)
    ext.injectResolutionRule(_ => GraftRowLevelRule)
  }
}

object GraftInsertRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case i: InsertIntoStatement if i.query.resolved && graftOf(i.table).isDefined =>
      require(i.partitionSpec.isEmpty,
        "static PARTITION specs are not supported on a graft table: `source` " +
        "is a data column — put it in the SELECT (dynamic overwrite replaces " +
        "the sources present in the result)")
      GraftInsertCommand(graftOf(i.table).get, i.query,
        i.overwrite, i.byName, i.userSpecifiedCols)
  }

  private[sources] def graftOf(p: LogicalPlan): Option[GraftFileIndex] = p match {
    case SubqueryAlias(_, child) => graftOf(child)
    // DML targets (DELETE/UPDATE) resolve a temp view as
    // SubqueryAlias(View(Project(attrs, relation))) — reads eliminate the
    // View wrapper later in analysis, but row-level commands are
    // intercepted before that
    case v: org.apache.spark.sql.catalyst.plans.logical.View => graftOf(v.child)
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      graftOf(pr.child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case g: GraftFileIndex => Some(g)
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }
}

/**
 * SQL row-level writes: `DELETE FROM <graft view> WHERE ...` and
 * `UPDATE <graft view> SET ... WHERE ...` intercepted during analysis
 * (Spark's own row-level rewrite only serves v2 `RowLevelOperationTable`s;
 * without this rule checkAnalysis rejects both statements on a v1
 * relation). Each statement is copy-on-write over the CURRENT table head
 * (not the view's read pin, as every write here does), in two Spark jobs
 * with no exchange: one finds the files holding a matched row, one
 * rewrites exactly those files (see `GraftRowLevel.run`). `SET source = ...`
 * and `SET doc_id = ...` are rejected up front (doc_id is the merge key;
 * source is immutable provenance — the same mutation the merge paths
 * abort on).
 */
object GraftRowLevelRule extends Rule[LogicalPlan] {
  import GraftInsertRule.graftOf
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case DeleteFromTable(t, cond) if t.resolved && cond.resolved &&
        graftOf(t).isDefined =>
      GraftDeleteCommand(graftOf(t).get, cond)
    case UpdateTable(t, assigns, cond) if t.resolved &&
        assigns.forall(_.resolved) && cond.forall(_.resolved) &&
        graftOf(t).isDefined =>
      GraftUpdateCommand(graftOf(t).get, assigns, cond)
    case m: MergeIntoTable if m.targetTable.resolved && m.sourceTable.resolved &&
        m.mergeCondition.resolved && mergeActionsReady(m) &&
        graftOf(m.targetTable).isDefined =>
      GraftMergeCommand(graftOf(m.targetTable).get, m)
  }

  /** Star actions carry no assignments (the command expands them by name);
    * everything else must be fully resolved before the rewrite fires. */
  private def mergeActionsReady(m: MergeIntoTable): Boolean =
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .forall {
        case UpdateStarAction(c) => c.forall(_.resolved)
        case InsertStarAction(c) => c.forall(_.resolved)
        case a => a.resolved
      }
}

private object GraftRowLevel {
  /** Copy-on-write DELETE (`update` = None) or UPDATE of the rows of the
    * table's CURRENT head where `cond` is TRUE, the way Delta and Iceberg
    * copy-on-write DML work:
    *  1. match job — a scan column-pruned to `cond`'s columns collects the
    *     distinct `input_file_name()` of matching rows per task (no
    *     exchange) and maps each to its manifest entry;
    *  2. rewrite job — exactly those files are read and written back
    *     copy-forward: DELETE keeps rows where `cond` is not TRUE (NULL
    *     keeps the row), UPDATE applies the SET values where it is TRUE;
    *     rows stay in their files' grouping;
    *  3. one `commitRewrite` swaps the matched files for the output, with
    *     its write-write conflict validation. Nothing matched, no commit.
    * Predicate-based, so duplicate doc_ids need no special handling. The
    * statement's expressions were resolved against the view's pinned
    * relation, so attribute refs are rebound BY NAME onto each job's scan. */
  def run(spark: SparkSession, index: GraftFileIndex, cond: Expression,
      update: Option[Seq[Assignment]]): Unit = {
    val assignByName = update.getOrElse(Seq.empty).map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name.toLowerCase
        case other => sys.error(
          s"unsupported UPDATE target $other (only top-level columns)")
      }
      name -> a.value
    }.toMap
    require(!assignByName.contains("doc_id"),
      "UPDATE cannot rewrite doc_id: it is the merge key")
    require(!assignByName.contains("source"),
      "UPDATE cannot rewrite source: provenance is immutable (the same " +
      "contract every merge path enforces)")
    val table = index.table
    val snap = table.log.current().getOrElse(sys.error(s"no table at ${table.root}"))
    val files = table.log.dataFiles(snap)
    if (files.isEmpty) return
    val schema = table.schemaOf(snap)
    def read(fs: Seq[DataFile]): DataFrame = spark.read.schema(schema)
      .parquet(fs.map(f => table.log.absolute(f.path).toString): _*)
    def bind(df: DataFrame, e: Expression): Column = {
      val byName = df.queryExecution.analyzed.output
        .map(a => a.name.toLowerCase -> a).toMap
      Bridge.column(e.transform { case a: AttributeReference =>
        byName.getOrElse(a.name.toLowerCase,
          sys.error(s"unknown column ${a.name} in row-level statement"))
      })
    }
    val byPath = files.map(f =>
      table.log.absolute(f.path).toAbsolutePath.normalize.toString -> f).toMap
    val head = read(files)
    val matched = head.filter(bind(head, cond)).select(input_file_name())
      .as(Encoders.STRING).mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().distinct.toSeq.map { uri =>
        // the scan reports URI-encoded paths ('%' escapes in partition dirs)
        val p = Paths.get(new URI(uri).getPath).normalize.toString
        byPath.getOrElse(p, throw new IllegalStateException(
          s"matched file $uri is not in snapshot v${snap.version}"))
      }
    if (matched.isEmpty) return
    val scan = read(matched)
    val hit = coalesce(bind(scan, cond), lit(false))
    val obs = Observation()
    val counted = scan.observe(obs, count(when(hit, true)).as("n"))
    val out = update match {
      case None => counted.filter(!hit)
      case Some(_) => counted.select(schema.fields.toSeq.map { f =>
        assignByName.get(f.name.toLowerCase) match {
          case Some(v) => when(hit, bind(scan, Cast(v, f.dataType)))
            .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    }
    val outDir = table.log.newDataSubdir()
    TokenTable.writeData(out, outDir)
    table.commitRewrite(matched.map(_.path).toSet, Seq(outDir),
      System.currentTimeMillis(), "merge",
      Map((if (update.isEmpty) "deleted-rows" else "updated-rows") ->
          obs.get("n").toString,
        "touched-files" -> matched.size.toString,
        "touched-ratio" -> f"${matched.size.toDouble / files.size}%.4f"))
  }
}

final case class GraftDeleteCommand(index: GraftFileIndex, cond: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftRowLevel.run(spark, index, cond, update = None)
    Seq.empty
  }
}

final case class GraftUpdateCommand(index: GraftFileIndex,
    assigns: Seq[Assignment], cond: Option[Expression])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftRowLevel.run(spark, index, cond.getOrElse(Literal.TrueLiteral),
      update = Some(assigns))
    Seq.empty
  }
}

/**
 * `MERGE INTO <graft view> USING <source> ON <cond>` — the north rule's
 * "Catalyst-planned MERGE INTO" as an actual SQL statement: the analyzer
 * hands us the resolved `MergeIntoTable`, and the command lowers it to ONE
 * engine merge (`Merge.run` — touched-file pruning, copy-forward units,
 * snapshot-isolated commit).
 *
 * Lowering: the table's CURRENT head is outer-joined with the source
 * (RIGHT outer normally — every source row classifies as matched or not
 * against the scanned head; FULL outer only when NOT MATCHED BY SOURCE
 * actions need the unmatched target rows too). Constant-true marker
 * columns on each side survive the outer join exactly where that side had
 * a row, so matched-ness never depends on the nullability of user data.
 * One projection then evaluates the WHEN clauses: per Spark semantics the
 * FIRST action (in statement order) whose condition holds applies —
 * expressed as a when/otherwise cascade for the op column and for every
 * output column, all in the same codegen'd select. Rows where no clause
 * fires drop out; the survivors ARE the engine change-set
 * (doc_id, …, _op ∈ {upsert, delete}).
 *
 * Contract mapping:
 *  - UPDATE SET doc_id = … is rejected statically (merge key).
 *  - SET source = … is allowed syntactically but the engine's provenance
 *    contract aborts the merge pre-commit if any matched row's claimed
 *    source differs from the stored one — same behavior as the library
 *    merge paths.
 *  - INSERT actions must assign doc_id and source; unassigned columns
 *    land NULL (the row "didn't know" the column — schema-evolution
 *    semantics).
 *  - A source row matching multiple WHEN clauses takes the first; multiple
 *    source rows with the SAME doc_id are collapsed by the engine's
 *    deterministic dedup (delete wins, then least token fingerprint) —
 *    where stock Spark raises a runtime cardinality error, this engine
 *    documents a deterministic pick instead.
 *  - `WITH SCHEMA EVOLUTION` is not supported (evolve explicitly via
 *    `TokenTable.addColumn`).
 *
 * Cost shape: one classifying scan of the head (right-outer against the
 * small source; full-outer only with BY SOURCE clauses) to build the
 * change-set, then the merge itself rewrites only touched files. The
 * library API (`Merge.run`) skips the classify join entirely — it IS the
 * direct path; this front door pays it to honor arbitrary ON conditions
 * and WHEN predicates.
 */
final case class GraftMergeCommand(index: GraftFileIndex, m: MergeIntoTable)
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    require(!m.withSchemaEvolution,
      "MERGE ... WITH SCHEMA EVOLUTION is not supported: evolve explicitly " +
      "(CLI `evolve` / TokenTable.addColumn), then merge")
    val table = index.table
    val headPlan = table.scan()._1.queryExecution.analyzed
    val srcPlan = m.sourceTable
    val tByName = headPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val sByName = srcPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val srcIds = srcPlan.outputSet
    // statement expressions were resolved against the view's pinned
    // relation; rebind target refs BY NAME onto the head scan (writes
    // always run against the current head). Source refs stay: the very
    // same source plan is the join's right child.
    def rebind(e: Expression): Expression = e.transform {
      case a: AttributeReference if !srcIds.contains(a) =>
        tByName.getOrElse(a.name.toLowerCase, sys.error(
          s"unknown column ${a.name} in MERGE (neither target nor source)"))
    }

    // markers: non-null exactly where that side had a row
    val tFlag = Alias(Literal(true), "__t")()
    val sFlag = Alias(Literal(true), "__s")()
    val tM = Project(headPlan.output :+ tFlag, headPlan)
    val sM = Project(srcPlan.output :+ sFlag, srcPlan)
    val joinType =
      if (m.notMatchedBySourceActions.nonEmpty) FullOuter else RightOuter
    val joined = Bridge.ofRows(spark,
      Join(tM, sM, joinType, Some(rebind(m.mergeCondition)), JoinHint.NONE))
    val isT = Bridge.column(tFlag.toAttribute).isNotNull
    val isS = Bridge.column(sFlag.toAttribute).isNotNull

    val schema = table.schema()
    def tCol(n: String): Column = Bridge.column(tByName(n.toLowerCase))

    // star expansion by name: SET * / INSERT * assign every target column
    // from the same-named source column
    def starAssigns: Seq[(String, Expression)] = schema.fieldNames.toSeq.map {
      n => n.toLowerCase -> sByName.getOrElse(n.toLowerCase, sys.error(
        s"MERGE star action: source has no column $n")).asInstanceOf[Expression]
    }
    final case class Act(cond: Column, op: String,
        assigns: Seq[(String, Expression)])
    def keyName(k: Expression): String = k match {
      case a: AttributeReference => a.name.toLowerCase
      case other => sys.error(
        s"unsupported MERGE assignment target $other (only top-level columns)")
    }
    def act(a: MergeAction, matched: Boolean): Act = {
      val cond = a.condition.map(e => Bridge.column(rebind(e)))
        .getOrElse(lit(true))
      a match {
        case UpdateAction(_, as, fromStar) =>
          val kv0 = as.map(x => keyName(x.key) -> rebind(x.value))
          // analyzer-expanded SET * carries a doc_id:=s.doc_id assignment;
          // the merge key always comes from the TARGET row instead
          val kv =
            if (fromStar) kv0.filterNot(_._1 == "doc_id") :+
              ("doc_id" -> tByName("doc_id").asInstanceOf[Expression])
            else kv0
          require(fromStar || !matched || kv.forall(_._1 != "doc_id"),
            "MERGE UPDATE cannot rewrite doc_id: it is the merge key")
          Act(cond, "upsert", kv)
        case _: UpdateStarAction => Act(cond, "upsert",
          starAssigns.filterNot(_._1 == "doc_id") :+
            ("doc_id" -> tByName("doc_id").asInstanceOf[Expression]))
        case DeleteAction(_) => Act(cond, "delete", Seq.empty)
        case InsertAction(_, as) =>
          val kv = as.map(x => keyName(x.key) -> rebind(x.value))
          require(kv.exists(_._1 == "doc_id") && kv.exists(_._1 == "source"),
            "MERGE INSERT must assign doc_id and source")
          Act(cond, "upsert", kv)
        case _: InsertStarAction => Act(cond, "upsert", starAssigns)
        case other => sys.error(s"unsupported MERGE action $other")
      }
    }
    val matched = m.matchedActions.map(act(_, matched = true))
    val inserts = m.notMatchedActions.map(act(_, matched = false))
    val bySource = m.notMatchedBySourceActions.map(act(_, matched = true))

    // first-true-wins cascades (statement order), one per output column
    def opOf(as: Seq[Act]): Column =
      as.foldRight(lit(null).cast("string")) { (a, els) =>
        when(a.cond, lit(a.op)).otherwise(els) }
    def valOf(as: Seq[Act], n: String, dflt: Column): Column =
      as.foldRight(dflt) { (a, els) =>
        val v = a.assigns.collectFirst { case (k, e) if k == n.toLowerCase =>
          Bridge.column(e) }.getOrElse(dflt)
        when(a.cond, v).otherwise(els)
      }
    val opC =
      when(isT && isS, opOf(matched))
        .when(!isT, opOf(inserts))
        .otherwise(opOf(bySource))
    val cols = schema.fields.toSeq.map { f =>
      val nullC = lit(null).cast(f.dataType)
      when(isT && isS, valOf(matched, f.name, tCol(f.name)))
        .when(!isT, valOf(inserts, f.name, nullC))
        .otherwise(valOf(bySource, f.name, tCol(f.name)))
        .cast(f.dataType).as(f.name)
    }
    val changeSet = joined
      .select(cols :+ opC.as(graft.maint.Merge.opCol): _*)
      .filter(col(graft.maint.Merge.opCol).isNotNull)
    graft.maint.Merge.run(table, spark, changeSet,
      nowMs = System.currentTimeMillis())
    Seq.empty
  }
}

/** Runs the resolved query and commits its rows through the engine.
  * A LEAF command on purpose: `query` is already fully resolved when the
  * rule fires, and keeping it out of `children` stops the analyzer from
  * re-resolving it against the command's (empty) output. */
final case class GraftInsertCommand(index: GraftFileIndex, query: LogicalPlan,
    overwrite: Boolean, byName: Boolean, userCols: Seq[String])
    extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val table = index.table
    // commit against the CURRENT snapshot (the view's pin is a read
    // property; writes always advance the table head)
    val schema = table.schema()
    val df0 = Bridge.ofRows(spark, query)
    val named =
      if (userCols.nonEmpty) {
        require(userCols.length == df0.columns.length,
          s"INSERT column list has ${userCols.length} names for " +
          s"${df0.columns.length} query columns")
        df0.toDF(userCols: _*)
      } else df0
    val conformed =
      if (byName || userCols.nonEmpty) {
        // every supplied column must exist in the table schema (ADVICE r4
        // #3: a typo'd name was silently dropped — null-filling the
        // intended column AND discarding the supplied data, a lossy insert
        // with no error). Mirrors the positional path's strict count check.
        val unknown = named.columns.filterNot(schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"INSERT column(s) not in table schema: ${unknown.mkString(", ")} " +
          s"(table columns: ${schema.fieldNames.mkString(", ")})")
        val missing = schema.fieldNames.filterNot(named.columns.contains)
        require(missing.forall(f => schema(f).nullable),
          s"INSERT misses non-nullable column(s): ${missing.mkString(", ")}")
        named.select(schema.fields.filter(f => named.columns.contains(f.name))
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      } else {
        require(named.columns.length == schema.length,
          s"INSERT query has ${named.columns.length} columns; table has " +
          s"${schema.length} (${schema.fieldNames.mkString(", ")})")
        named.select(named.columns.zip(schema.fields).map {
          case (c, f) => col(c).cast(f.dataType).as(f.name)
        }: _*)
      }
    // file count from the PLAN's size estimate, clamped: inserts land in a
    // modest number of range-clustered files and the next compaction folds
    // them into the layout (same contract as merge's insert unit)
    val est = query.stats.sizeInBytes
    val files = math.max(1, math.min(64,
      (est / (128L * 1024 * 1024)).toLong)).toInt
    val nowMs = System.currentTimeMillis()
    if (overwrite) table.replacePartitions(conformed, files, nowMs)
    else table.append(conformed, files, nowMs, operation = "sql_insert")
    Seq.empty
  }
}
