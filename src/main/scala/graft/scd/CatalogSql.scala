package graft.scd

import graft.catalog.ParquetCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{StringType, StructField}

/** The SQL front door of [[ParquetCatalog]]: `MERGE INTO`, `DELETE
  * FROM`, `UPDATE`, `ALTER TABLE … ADD/DROP/RENAME/ALTER COLUMN`,
  * `CREATE TABLE … AS SELECT` and `INSERT INTO/OVERWRITE … SELECT`.
  * Spark 4 parses every one natively but executes them only against
  * DataSourceV2 tables; here each statement is parsed ONCE and the
  * parsed node compiles onto plain relational plans over the catalog:
  *
  *   - MERGE: one full-outer join on the merge condition routes every
  *     row through the clause taxonomy with `when/otherwise` (the
  *     single-pass shape of [[ScdMerge]]); a target row takes the
  *     FIRST satisfied `WHEN MATCHED` clause, a source-only row the
  *     first satisfied `WHEN NOT MATCHED`, a target-only row the first
  *     satisfied `WHEN NOT MATCHED BY SOURCE`, and no satisfied clause
  *     carries a target row unchanged / drops a source row. With
  *     MATCHED clauses, [[execute]] rejects a target row matching
  *     several source rows (the ANSI cardinality violation);
  *   - DELETE/UPDATE: one predicate (ANSI: only TRUE hits — FALSE and
  *     NULL keep) plus an assignment map; copy-on-write ([[execute]])
  *     is one filter or projection over one scan, merge-on-read
  *     ([[executeMor]]) publishes only the hit keys and rewritten rows;
  *   - ALTER: ADD (NULL or `DEFAULT <literal>` fill), DROP (`IF
  *     EXISTS` tolerated, never the last column), RENAME (never onto
  *     an existing name), ALTER COLUMN … TYPE (widening only);
  *     nested paths and FIRST/AFTER positions are rejected loudly;
  *   - CTAS publishes the query as the table's first version (`IF NOT
  *     EXISTS` on an existing table is a no-op); INSERT aligns
  *     positionally, through a `(col, …)` list (unnamed columns NULL),
  *     or `BY NAME` (exact column set); OVERWRITE replaces content.
  *
  * Every named relation a statement reads resolves CATALOG-FIRST
  * through one lookup: a name the catalog holds binds to that table's
  * current snapshot — in a MERGE source, named or a subquery, in a
  * CTAS/INSERT query, inside expression subqueries and CTE bodies —
  * and any other name stays for the session analyzer (temp views), so
  * statements can mix catalog tables with registered frames. Every
  * statement publishes ONE new catalog version (the versioned pointer
  * swap): concurrent readers keep their snapshot, time travel reads the
  * pre-statement content under its own schema, and a statement that
  * raises while writing never publishes.
  *
  * At 100 TB: DELETE/UPDATE/ALTER are one scan + rewrite with zero
  * exchanges; MERGE shuffles on the join condition only (each input
  * scanned once, broadcastable small side); CTAS/INSERT write the
  * query result once and an append never rewrites the old files.
  */
object CatalogSql {

  /** Relation names a statement binds before the session analyzer. */
  private[scd] type Lookup = String => Option[DataFrame]

  private val TP = "__merge_t_present"
  private val SP = "__merge_s_present"
  private val RID = "__merge_t_rid"
  private val SID = "__merge_s_rid"
  private val CNT = "__merge_match_cnt"
  private val CardMsg =
    "MERGE cardinality violation: a target row matches multiple source rows"

  /** Parse, compile, and atomically publish one statement against
    * `catalog`; returns the target table's published content.
    *
    * @param evolveSchema Delta-style MERGE schema evolution (opt-in,
    *   like Delta's autoMerge conf): source columns referenced by star
    *   actions or explicit assignments that are absent from the target
    *   are APPENDED to it (existing rows read NULL there), and the
    *   widened schema publishes as the next version. Off, an unknown
    *   assignment target errors.
    */
  def execute(spark: SparkSession, catalog: ParquetCatalog, sql: String,
      evolveSchema: Boolean = false): DataFrame = {
    val lookup: Lookup =
      n => if (catalog.exists(n)) Some(catalog.table(n)) else None
    def stored(table: LogicalPlan, verb: String): String = {
      val n = target(table)._1
      require(catalog.exists(n), s"$verb target not in catalog: $n")
      n
    }
    val statement = parse(spark, sql)
    val name = statement match {
      case m: MergeIntoTable =>
        val n = stored(m.targetTable, "MERGE")
        // The cardinality guard rides INSIDE the merge join and raises
        // while the new version materializes, so a violation never
        // publishes (nor does a failed evolving merge's schema).
        try catalog.overwrite(n,
          merge(spark, m, lookup, checked = true, evolveSchema))
        catch {
          case e: Throwable if causeChain(e).exists(
              t => Option(t.getMessage).exists(_.contains(CardMsg))) =>
            throw new IllegalArgumentException(CardMsg)
        }
        n
      case Dml(table, _, _) =>
        val n = stored(table, "DML")
        catalog.overwrite(n, dml(spark, statement, lookup).content)
        n
      case AddColumns(table, cols) =>
        val n = stored(table, "ALTER TABLE")
        catalog.overwrite(n, cols.foldLeft(catalog.table(n))(addColumn(n)))
        n
      case DropColumns(table, cols, ifExists) =>
        val n = stored(table, "ALTER TABLE")
        dropColumns(n, catalog.table(n), cols.map(_.name), ifExists)
          .foreach(catalog.overwrite(n, _))
        n
      case AlterColumns(table, specs) =>
        val n = stored(table, "ALTER TABLE")
        catalog.overwrite(n, specs.foldLeft(catalog.table(n))(widenColumn(n)))
        n
      case RenameColumn(table, column, newName) =>
        val n = stored(table, "ALTER TABLE")
        catalog.overwrite(n,
          renameColumn(n, catalog.table(n), column.name, newName))
        n
      case c: CreateTableAsSelect =>
        val n = target(c.name)._1
        requireCatalogOwned(c)
        if (catalog.exists(n))
          require(c.ignoreIfExists, s"table $n already exists")
        else catalog.createAs(n, relation(spark, lookup, c.query))
        n
      case i: InsertIntoStatement =>
        val n = stored(i.table, "INSERT")
        require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
          "PARTITION clauses are not supported through this door")
        val rows = aligned(n, catalog.table(n).schema.fields.toSeq, i,
          relation(spark, lookup, i.query))
        if (i.overwrite) catalog.overwrite(n, rows)
        else catalog.append(n, rows)
        n
      case other => throw new IllegalArgumentException(
        s"unsupported catalog SQL statement: ${other.nodeName}")
    }
    catalog.table(name)
  }

  /** [[execute]] for DELETE/UPDATE through the MERGE-ON-READ path:
    * instead of rewriting the whole version (copy-on-write — O(table)
    * for a one-row DELETE), publish a DELTA version carrying only the
    * deletion vector of the hit rows' `keyCol` values, plus their
    * rewritten rows for an UPDATE (delete + append — the classic MoR
    * upsert). Writes are O(hit rows); scans pay one anti-join per
    * outstanding delta until [[ParquetCatalog.compact]] folds the chain.
    * The statement reads the version it chains onto, pinned: a
    * concurrent publish in between is a loud
    * `ConcurrentModificationException`, never a delta against content
    * the predicate never saw.
    *
    * @param keyCol row-identity column the deletion vector stores —
    *   unique per row (the table's primary key)
    */
  def executeMor(spark: SparkSession, catalog: ParquetCatalog, sql: String,
      keyCol: String): DataFrame = {
    val statement = parse(spark, sql)
    val name = statement match {
      case Dml(table, _, _) => target(table)._1
      case other => throw new IllegalArgumentException(
        s"merge-on-read runs DELETE/UPDATE only; got: ${other.nodeName}")
    }
    require(catalog.exists(name), s"DML target not in catalog: $name")
    val v = catalog.currentVersion(name).get
    val d = dml(spark, statement,
      n => if (n == name) Some(catalog.tableAsOfVersion(name, v)) else None)
    catalog.publishDelta(name, keyCol, d.hits.select(col(keyCol)),
      d.rewritten, expectedBase = Some(v))
    catalog.table(name)
  }

  /** Parse a MERGE, DELETE or UPDATE and compile it into the
    * POST-statement target content as one lazy plan, resolving names
    * through the session (temp views + session catalog). No publish
    * and no MERGE cardinality guard: a multi-matched target row fans
    * out pairwise here ([[execute]] enforces the ANSI check).
    */
  def plan(spark: SparkSession, sql: String,
      evolveSchema: Boolean = false): DataFrame =
    content(spark, parse(spark, sql), _ => None, checked = false,
      evolveSchema)

  /** [[plan]] plus the in-join MERGE cardinality guard (raises on
    * materialization): the plan [[execute]] publishes. Exposed so tests
    * can assert it carries ONE target-vs-source join.
    */
  private[scd] def planChecked(spark: SparkSession, sql: String,
      evolveSchema: Boolean = false): DataFrame =
    content(spark, parse(spark, sql), _ => None, checked = true,
      evolveSchema)

  /** [[plan]] with the statement's relation names bound by `lookup`
    * first ([[MergeIntoScd]] binds its inputs without temp views).
    */
  private[scd] def planWith(spark: SparkSession, sql: String,
      lookup: Lookup): DataFrame =
    content(spark, parse(spark, sql), lookup, checked = false,
      evolve = false)

  private def content(spark: SparkSession, statement: LogicalPlan,
      lookup: Lookup, checked: Boolean, evolve: Boolean): DataFrame =
    statement match {
      case m: MergeIntoTable =>
        merge(spark, m, lookup, checked, evolve)
      case Dml(_, _, _) => dml(spark, statement, lookup).content
      case other => throw new IllegalArgumentException(
        s"not a MERGE INTO / DELETE FROM / UPDATE statement: ${other.nodeName}")
    }

  private def parse(spark: SparkSession, sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  private def causeChain(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32)

  // ---- names and resolution -------------------------------------------

  /** A statement target's (name, alias) — every shape Spark parses a
    * target into: an aliased or bare relation (MERGE, DELETE, UPDATE,
    * INSERT), a table (ALTER), an identifier (CTAS).
    */
  private def target(p: LogicalPlan): (String, Option[String]) = p match {
    case SubqueryAlias(ident, child) => (target(child)._1, Some(ident.name))
    case r: UnresolvedRelation => (r.multipartIdentifier.mkString("."), None)
    case t: UnresolvedTable => (t.multipartIdentifier.mkString("."), None)
    case i: UnresolvedIdentifier => (i.nameParts.mkString("."), None)
    case other => throw new IllegalArgumentException(
      "statement target must be a named table; got: " + other.nodeName)
  }

  /** `p` as a DataFrame, every relation `lookup` knows swapped for its
    * DataFrame (aliased by its name, so qualified references keep
    * working) before the session analyzer resolves the rest. The walk
    * covers expression subqueries (IN/EXISTS/scalar) and CTE bodies,
    * which a plain plan transform never visits; a CTE's own name
    * shadows a looked-up relation of the same name inside its WITH.
    */
  private def relation(spark: SparkSession, lookup: Lookup,
      p: LogicalPlan): DataFrame = {
    def bind(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        val in = ctes ++ w.cteRelations.map(_._1.toLowerCase)
        w.copy(child = bind(w.child, in), cteRelations = w.cteRelations.map {
          case (n, body, depth) =>
            (n, bind(body, in).asInstanceOf[SubqueryAlias], depth)
        })
      case r: UnresolvedRelation =>
        val n = r.multipartIdentifier.mkString(".")
        (if (ctes(n.toLowerCase)) None else lookup(n)).fold(r: LogicalPlan)(
          df => SubqueryAlias(r.multipartIdentifier,
            ColumnBridge.logicalPlan(df)))
      case other => other.mapChildren(bind(_, ctes)).transformExpressions {
        case s: SubqueryExpression => s.withNewPlan(bind(s.plan, ctes))
      }
    }
    ColumnBridge.ofRows(spark, bind(p, Set.empty))
  }

  private def toCol(e: Expression): Column = expr(e.sql)

  // ---- assignments (MERGE actions and UPDATE) -------------------------

  /** The column name an assignment key writes, unmatched: its last
    * name part (NOT rendered SQL split on '.', which mis-splits a
    * backtick-quoted dotted name); a qualifier must name the target —
    * `SET other.c = e` under alias `t` is a user error.
    */
  private def assignee(a: Assignment, name: String,
      alias: Option[String]): String = {
    val parts = a.key match {
      case u: UnresolvedAttribute => u.nameParts
      case other => throw new IllegalArgumentException(
        s"unsupported assignment key: ${other.sql}")
    }
    if (parts.length > 1) {
      val qual = parts.init.mkString(".")
      require(qual.equalsIgnoreCase(alias.getOrElse(name)) ||
          qual.equalsIgnoreCase(name),
        s"assignment qualifier '$qual' does not match target " +
          s"'${alias.getOrElse(name)}'")
    }
    parts.last
  }

  /** Assignments by target column, resolved case-insensitively against
    * `fields` (unknown columns error). Coercion is LOUD (ANSI/Delta
    * store assignment): a non-null value that does not convert to the
    * column type raises instead of writing NULL or silently changing
    * the column's type. The probe is try_cast, so the guard itself
    * never ANSI-throws and the error is ours in both ANSI modes.
    */
  private def assignments(xs: Seq[Assignment], fields: Seq[StructField],
      name: String, alias: Option[String]): Map[String, Column] =
    xs.map { a =>
      val raw = assignee(a, name, alias)
      val f = fields.find(_.name.equalsIgnoreCase(raw)).getOrElse(
        throw new IllegalArgumentException(
          s"unknown target column in assignment to $name: $raw"))
      val v = toCol(a.value)
      f.name -> when(v.isNotNull && v.try_cast(f.dataType).isNull,
        raise_error(lit("assignment value not coercible to " +
          s"${f.name}: ${f.dataType.simpleString}")).cast(f.dataType))
        .otherwise(v.try_cast(f.dataType))
    }.toMap

  // ---- DELETE / UPDATE ------------------------------------------------

  /** DELETE/UPDATE parts: (target, predicate, UPDATE assignments). */
  private object Dml {
    def unapply(p: LogicalPlan)
        : Option[(LogicalPlan, Option[Expression], Option[Seq[Assignment]])] =
      p match {
        case DeleteFromTable(t, c) => Some((t, Some(c), None))
        case UpdateTable(t, a, c) => Some((t, c, Some(a)))
        case _ => None
      }
  }

  /** A DELETE/UPDATE compiled once against its resolved target `t`:
    * `hit` is the ANSI predicate (NULL counts as FALSE; no WHERE hits
    * every row), `set` the UPDATE's assignments by column (None for a
    * DELETE). Copy-on-write publishes [[content]]; merge-on-read the
    * [[hits]]' keys and the [[rewritten]] rows.
    */
  private case class Compiled(t: DataFrame, hit: Column,
      set: Option[Map[String, Column]]) {
    private def cols = t.columns.toSeq
    def content: DataFrame = set match {
      case None => t.filter(!hit).select(cols.map(col): _*)
      case Some(m) => t.select(cols.map(c => m.get(c)
        .fold(col(c))(v => when(hit, v).otherwise(col(c)).as(c))): _*)
    }
    def hits: DataFrame = t.filter(hit)
    def rewritten: Option[DataFrame] = set.map(m =>
      hits.select(cols.map(c => m.getOrElse(c, col(c)).as(c)): _*))
  }

  private def dml(spark: SparkSession, statement: LogicalPlan,
      lookup: Lookup): Compiled = {
    val Dml(table, cond, set) = statement
    val (name, alias) = target(table)
    val t = relation(spark, lookup, table)
    Compiled(t,
      cond.fold(lit(true))(c => coalesce(toCol(c), lit(false))),
      set.map(assignments(_, t.schema.fields.toSeq, name, alias)))
  }

  // ---- MERGE ----------------------------------------------------------

  /** Compile a parsed merge onto one full-outer join. With `checked`
    * (which only MATCHED clauses need), the ANSI multiple-match
    * detection is folded into the SAME join: each target row carries a
    * row id, a window over the join output counts its source matches
    * (one extra exchange of the join OUTPUT — never a second
    * scan/join of the inputs), and a count > 1 raises from the routing
    * expressions the filter evaluates for every row, so the violation
    * fires even when the offending rows would be deleted. Unmatched source rows get unique negative window keys
    * (count 1, no skewed null partition).
    */
  private def merge(spark: SparkSession, mit: MergeIntoTable,
      lookup: Lookup, checked: Boolean, evolve: Boolean): DataFrame = {
    val (tName, tAlias) = target(mit.targetTable)
    val tQ = tAlias.getOrElse(tName)
    val tDf = relation(spark, lookup, mit.targetTable)
    val sQ = mit.sourceTable match {
      case SubqueryAlias(ident, _) => ident.name
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
      case other => throw new IllegalArgumentException(
        "MERGE source must be a named relation or an aliased subquery; " +
          s"got: ${other.nodeName}")
    }
    val sDf = relation(spark, lookup, mit.sourceTable)
    val allActions = mit.matchedActions ++ mit.notMatchedActions ++
      mit.notMatchedBySourceActions
    // Schema evolution appends source-derived columns the target lacks:
    // star actions contribute every such source column (source order),
    // explicit assignments their key, typed by resolving the value
    // against the aliased source (a value needing target columns
    // cannot define a column the target doesn't have).
    val targetFields = tDf.schema.fields.toSeq
    val targetHas = targetFields.map(_.name.toLowerCase).toSet
    val outFields =
      if (!evolve) targetFields
      else {
        val fromStar =
          if (allActions.exists {
                case _: InsertStarAction | _: UpdateStarAction => true
                case _ => false
              })
            sDf.schema.fields.toSeq.filterNot(f =>
              targetHas(f.name.toLowerCase))
          else Nil
        val explicit = allActions.flatMap {
          case u: UpdateAction => u.assignments
          case i: InsertAction => i.assignments
          case _ => Nil
        }.flatMap { a =>
          val raw = assignee(a, tName, tAlias)
          if (targetHas(raw.toLowerCase)) None
          else {
            val dt =
              try sDf.alias(sQ).select(toCol(a.value)).schema.head.dataType
              catch {
                case e: Exception => throw new IllegalArgumentException(
                  s"cannot infer type for evolved MERGE column $raw: the " +
                    "assigned value must resolve against the source alone", e)
              }
            Some(StructField(raw, dt))
          }
        }
        targetFields ++ (fromStar ++ explicit)
          .foldLeft(Vector.empty[StructField]) { (acc, f) =>
            if (acc.exists(_.name.equalsIgnoreCase(f.name))) acc else acc :+ f
          }
      }
    // target-side value of an output column: NULL (typed by the route
    // cast) for columns that exist only post-evolution
    def tcol(c: String): Column =
      if (targetHas(c.toLowerCase)) col(s"$tQ.$c") else lit(null)
    def sc(c: String): Column = col(s"$sQ.$c")

    // Per-class routing: a value function (output column -> Column) and
    // a keep flag, folded so the FIRST satisfied clause wins.
    case class Routed(value: String => Column, keep: Column)
    def fold(acts: Seq[MergeAction], default: Routed): Routed =
      acts.foldRight(default) { (a, acc) =>
        val cond = a.condition.map(toCol).getOrElse(lit(true))
        val (v, k): (String => Column, Column) = a match {
          case u: UpdateAction =>
            val m = assignments(u.assignments, outFields, tName, tAlias)
            (c => m.getOrElse(c, tcol(c)), lit(true))
          case _: UpdateStarAction => (c => sc(c), lit(true))
          case _: DeleteAction => (c => tcol(c), lit(false))
          case i: InsertAction =>
            val m = assignments(i.assignments, outFields, tName, tAlias)
            (c => m.getOrElse(c, lit(null)), lit(true))
          case _: InsertStarAction => (c => sc(c), lit(true))
          case other => throw new IllegalArgumentException(
            s"unsupported MERGE action: ${other.getClass.getSimpleName}")
        }
        Routed(c => when(cond, v(c)).otherwise(acc.value(c)),
          when(cond, k).otherwise(acc.keep))
      }
    val matched = fold(mit.matchedActions, Routed(tcol, lit(true)))
    val inserts = fold(mit.notMatchedActions,
      Routed(_ => lit(null), lit(false)))
    val tgtOnly = fold(mit.notMatchedBySourceActions, Routed(tcol, lit(true)))
    def route(df: DataFrame, r: Routed): DataFrame =
      df.filter(r.keep)
        .select(outFields.map(f =>
          r.value(f.name).cast(f.dataType).as(f.name)): _*)

    if (mit.matchedActions.isEmpty) {
      // No MATCHED clause: an ANSI insert-only (or source-delete-only)
      // merge ALLOWS a target row to match many source rows — it must
      // still carry exactly once, so route set-wise (semi/anti joins),
      // never through the pairwise outer join.
      val cond = toCol(mit.mergeCondition)
      val t = tDf.alias(tQ)
      val s = sDf.alias(sQ)
      val carried = t.join(s, cond, "left_semi")
        .select(outFields.map(f =>
          (if (targetHas(f.name.toLowerCase)) col(f.name)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      val unmatched = route(t.join(s, cond, "left_anti"), tgtOnly)
      val inserted = route(s.join(t, cond, "left_anti"), inserts)
      carried.unionByName(unmatched).unionByName(inserted)
    } else {
      val t0 = tDf.withColumn(TP, lit(true))
      val t = (if (checked) t0.withColumn(RID, monotonically_increasing_id())
               else t0).alias(tQ)
      val s0 = sDf.withColumn(SP, lit(true))
      val s = (if (checked) s0.withColumn(SID, monotonically_increasing_id())
               else s0).alias(sQ)
      val joined0 = t.join(s, toCol(mit.mergeCondition), "full_outer")
      val sP = coalesce(col(SP), lit(false))
      val joined =
        if (checked) joined0.withColumn(CNT,
          sum(when(sP, lit(1L)).otherwise(lit(0L))).over(
            Window.partitionBy(coalesce(col(RID), -col(SID) - lit(1L)))))
        else joined0
      val tP0 = coalesce(col(TP), lit(false))
      val tP =
        if (checked)
          when(col(CNT) > lit(1L), raise_error(lit(CardMsg)).cast("boolean"))
            .otherwise(tP0)
        else tP0
      val keep = when(tP && sP, matched.keep)
        .when(!tP && sP, inserts.keep)
        .otherwise(tgtOnly.keep)
      val outCols = outFields.map { f =>
        when(tP && sP, matched.value(f.name).cast(f.dataType))
          .when(!tP && sP, inserts.value(f.name).cast(f.dataType))
          .otherwise(tgtOnly.value(f.name).cast(f.dataType))
          .as(f.name)
      }
      joined.filter(keep).select(outCols: _*)
    }
  }

  // ---- ALTER TABLE ----------------------------------------------------

  private def addColumn(name: String)(df: DataFrame,
      c: QualifiedColType): DataFrame = {
    require(c.path.isEmpty,
      s"nested ADD COLUMN is not supported: ${c.name.mkString(".")}")
    require(c.position.isEmpty,
      s"FIRST/AFTER position is not supported: ${c.colName}")
    require(!df.columns.exists(_.equalsIgnoreCase(c.colName)),
      s"column ${c.colName} already exists in $name")
    df.withColumn(c.colName, c.default.fold(lit(null))(d => expr(d.child.sql))
      .cast(c.dataType))
  }

  /** The content without `cols`, or None when `IF EXISTS` finds none. */
  private def dropColumns(name: String, t: DataFrame, cols: Seq[Seq[String]],
      ifExists: Boolean): Option[DataFrame] = {
    val toDrop = cols.map { parts =>
      require(parts.length == 1,
        s"nested DROP COLUMN is not supported: ${parts.mkString(".")}")
      parts.head
    }
    val missing = toDrop.filterNot(d => t.columns.exists(_.equalsIgnoreCase(d)))
    require(ifExists || missing.isEmpty,
      s"DROP COLUMN: no such column(s) in $name: ${missing.mkString(", ")}")
    val keep = t.columns.filterNot(c => toDrop.exists(_.equalsIgnoreCase(c)))
    require(keep.nonEmpty, s"DROP COLUMN would remove every column of $name")
    if (keep.length == t.columns.length) None
    else Some(t.select(keep.map(col).toSeq: _*))
  }

  /** ALTER COLUMN … TYPE, WIDENING only (Catalyst's loss-free up-cast
    * lattice: INT→BIGINT, FLOAT→DOUBLE, decimal growth): a narrowing
    * rewrite silently truncating 100 TB is the disallowed case. STRING
    * targets are excluded on top of canUpCast — every atomic type
    * up-casts to STRING loss-free, but a numeric column silently
    * becoming text is a family change Delta/Iceberg also reject.
    */
  private def widenColumn(name: String)(df: DataFrame,
      sp: AlterColumnSpec): DataFrame = {
    require(sp.column.name.length == 1,
      s"nested ALTER COLUMN is not supported: ${sp.column.name.mkString(".")}")
    val cn = sp.column.name.head
    val actual = df.columns.find(_.equalsIgnoreCase(cn)).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER COLUMN: no such column in $name: $cn"))
    require(sp.newPosition.isEmpty,
      s"FIRST/AFTER position is not supported: $cn")
    require(sp.newNullability.isEmpty && sp.newComment.isEmpty &&
      sp.newDefaultExpression.isEmpty,
      s"only TYPE changes are supported for $cn")
    val to = sp.newDataType.getOrElse(
      throw new IllegalArgumentException(s"ALTER COLUMN $cn must specify TYPE"))
    val from = df.schema(actual).dataType
    require(from != to && to != StringType && Cast.canUpCast(from, to),
      s"only widening type changes are supported for $cn: " +
        s"${from.simpleString} -> ${to.simpleString}")
    df.withColumn(actual, col(actual).cast(to)) // in place: position stable
  }

  private def renameColumn(name: String, t: DataFrame, column: Seq[String],
      newName: String): DataFrame = {
    require(column.length == 1,
      s"nested RENAME COLUMN is not supported: ${column.mkString(".")}")
    require(t.columns.exists(_.equalsIgnoreCase(column.head)),
      s"RENAME COLUMN: no such column in $name: ${column.head}")
    require(!t.columns.exists(_.equalsIgnoreCase(newName)),
      s"RENAME COLUMN target already exists in $name: $newName")
    t.withColumnRenamed(column.head, newName)
  }

  // ---- CTAS / INSERT --------------------------------------------------

  /** Every CTAS table-spec clause this door does not honor is REJECTED,
    * not ignored: a `USING x LOCATION y` CTAS silently publishing into
    * the catalog root is how data lands in the wrong place at 100 TB.
    */
  private def requireCatalogOwned(c: CreateTableAsSelect): Unit = {
    require(c.partitioning.isEmpty,
      "PARTITIONED BY in CTAS is not supported through this door")
    c.tableSpec match {
      case s: TableSpecBase =>
        require(s.provider.isEmpty, s"USING ${s.provider.get} in CTAS is " +
          "not supported through this door (the catalog writes parquet)")
        require(s.location.isEmpty, s"LOCATION ${s.location.get} in CTAS " +
          "is not supported through this door (the catalog owns table paths)")
        require(s.properties.isEmpty, "TBLPROPERTIES in CTAS is not " +
          s"supported through this door: ${s.properties.keys.mkString(",")}")
        require(s.serde.isEmpty,
          "ROW FORMAT/STORED AS in CTAS is not supported through this door")
        require(!s.external,
          "EXTERNAL in CTAS is not supported through this door")
        s match {
          case u: UnresolvedTableSpec =>
            require(u.optionExpression.options.isEmpty,
              "OPTIONS in CTAS is not supported through this door")
          case _ => ()
        }
    }
  }

  /** `src0` cast onto the target's columns under the INSERT's alignment:
    * positional, a named column list (unnamed columns NULL), or BY NAME
    * (case-insensitive, exact column set — a silently dropped or
    * null-filled column in a 100-TB append is how corpora rot).
    */
  private def aligned(name: String, tf: Seq[StructField],
      i: InsertIntoStatement, src0: DataFrame): DataFrame = {
    // positional references go through unambiguous synthetic names (a
    // SELECT may repeat an output name)
    val src = src0.toDF(src0.columns.indices.map(j => s"__c$j"): _*)
    def at(j: Int, f: StructField): Column =
      if (j < 0) lit(null).cast(f.dataType).as(f.name)
      else col(s"__c$j").cast(f.dataType).as(f.name)
    if (i.byName) {
      val srcNames = src0.columns.map(_.toLowerCase)
      require(srcNames.distinct.length == srcNames.length &&
          srcNames.sorted.sameElements(tf.map(_.name.toLowerCase).sorted),
        s"INSERT BY NAME requires the exact column set of $name; " +
          s"got ${src0.columns.mkString(",")}")
      src.select(tf.map(f => at(srcNames.indexOf(f.name.toLowerCase), f)): _*)
    } else if (i.userSpecifiedCols.nonEmpty) {
      require(i.userSpecifiedCols.length == src0.columns.length,
        s"INSERT names ${i.userSpecifiedCols.length} columns but the " +
          s"query yields ${src0.columns.length}")
      val named = i.userSpecifiedCols.map(_.toLowerCase)
      named.foreach(n => require(tf.exists(_.name.equalsIgnoreCase(n)),
        s"INSERT names unknown column of $name: $n"))
      src.select(tf.map(f => at(named.indexOf(f.name.toLowerCase), f)): _*)
    } else {
      require(src0.columns.length == tf.length,
        s"INSERT query yields ${src0.columns.length} columns but $name " +
          s"has ${tf.length}")
      src.select(tf.zipWithIndex.map { case (f, j) => at(j, f) }: _*)
    }
  }
}
