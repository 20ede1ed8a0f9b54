package graft.scd

import graft.SparkSpec

// top-level so Spark can derive an Encoder (inner classes capture the
// suite's scope)
private[scd] case class MergeFuzzRow(id: Long, name: String, v: Long)

/** Fuzz the MERGE INTO door: random tables and random clause sets from
  * a closed template space, each statement executed twice — through
  * CatalogSql.plan and through an independent plain-Scala
  * interpreter of ANSI MERGE semantics (first-match-wins per row
  * class) — and compared as row multisets.
  */
class MergeFuzzSpec extends SparkSpec {

  // closed condition space, evaluated both ways
  private sealed trait Cond { def sql: String }
  private case object SrcEven extends Cond { val sql = "s.v % 2 = 0" }
  private case object SrcBig extends Cond { val sql = "s.v > 50" }
  private case object TgtBig extends Cond { val sql = "t.v > 30" }
  private case object TgtSmall extends Cond { val sql = "t.v <= 30" }
  private def evalCond(c: Cond, t: Option[MergeFuzzRow], s: Option[MergeFuzzRow]): Boolean =
    c match {
      case SrcEven => s.exists(_.v % 2 == 0)
      case SrcBig => s.exists(_.v > 50)
      case TgtBig => t.exists(_.v > 30)
      case TgtSmall => t.exists(_.v <= 30)
    }

  private sealed trait Act { def cond: Option[Cond] }
  private case class MUpd(cond: Option[Cond]) extends Act // v = s.v + 1000, name = s.name
  private case class MDel(cond: Option[Cond]) extends Act
  private case class NIns(cond: Option[Cond]) extends Act // INSERT (id, name, v)
  private case class TUpd(cond: Option[Cond]) extends Act // name = 'stale'
  private case class TDel(cond: Option[Cond]) extends Act

  private def clauseSql(kind: String, a: Act, body: String): String =
    s"WHEN $kind${a.cond.map(c => s" AND ${c.sql}").getOrElse("")} THEN $body"

  private def interpret(tgt: Seq[MergeFuzzRow], src: Seq[MergeFuzzRow],
      matched: Seq[Act], notMatched: Seq[Act],
      bySource: Seq[Act]): Seq[MergeFuzzRow] = {
    val srcById = src.groupBy(_.id).map { case (k, vs) => k -> vs.head }
    val fromTarget = tgt.flatMap { t =>
      srcById.get(t.id) match {
        case Some(s) if matched.nonEmpty =>
          matched.find(a => a.cond.forall(evalCond(_, Some(t), Some(s))))
            .map {
              case MUpd(_) => Seq(t.copy(v = s.v + 1000, name = s.name))
              case MDel(_) => Seq.empty
              case other => sys.error(s"bad matched act $other")
            }.getOrElse(Seq(t))
        case Some(_) => Seq(t) // no matched clauses: carried once
        case None =>
          bySource.find(a => a.cond.forall(evalCond(_, Some(t), None)))
            .map {
              case TUpd(_) => Seq(t.copy(name = "stale"))
              case TDel(_) => Seq.empty
              case other => sys.error(s"bad by-source act $other")
            }.getOrElse(Seq(t))
      }
    }
    val tgtIds = tgt.map(_.id).toSet
    val inserted = src.filterNot(s => tgtIds.contains(s.id)).flatMap { s =>
      notMatched.find(a => a.cond.forall(evalCond(_, None, Some(s))))
        .map { case NIns(_) => Seq(s); case o => sys.error(s"bad $o") }
        .getOrElse(Seq.empty)
    }
    fromTarget ++ inserted
  }

  test("random clause sets match a plain-Scala MERGE interpreter") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val conds: Seq[Option[Cond]] =
      Seq(None, Some(SrcEven), Some(SrcBig), Some(TgtBig), Some(TgtSmall))
    for (trial <- 0 until 30) {
      val tgt = (0 until 20).map(_ => MergeFuzzRow(rnd.nextInt(30).toLong,
        "n" + rnd.nextInt(5), rnd.nextInt(100).toLong))
        .groupBy(_.id).values.map(_.head).toSeq // unique target ids
      val src = (0 until 15).map(_ => MergeFuzzRow(rnd.nextInt(30).toLong,
        "m" + rnd.nextInt(5), rnd.nextInt(100).toLong))
        .groupBy(_.id).values.map(_.head).toSeq // unique source ids
      def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
      // tgt-side conditions only for by-source clauses; src-side for the
      // rest; the grammar lets only the LAST clause of a group omit its
      // condition, so non-last clauses always get one
      val srcConds = conds.filter(_.forall(c => c == SrcEven || c == SrcBig))
      val tgtConds = conds.filter(_.forall(c => c == TgtBig || c == TgtSmall))
      def legalize(acts: Seq[Act], some: Seq[Option[Cond]]): Seq[Act] =
        acts.zipWithIndex.map { case (a, i) =>
          if (i < acts.length - 1 && a.cond.isEmpty) a match {
            case _: MUpd => MUpd(Some(pick(some.flatten)))
            case _: MDel => MDel(Some(pick(some.flatten)))
            case _: NIns => NIns(Some(pick(some.flatten)))
            case _: TUpd => TUpd(Some(pick(some.flatten)))
            case _: TDel => TDel(Some(pick(some.flatten)))
          } else a
        }
      val matched: Seq[Act] = legalize(Seq.fill(rnd.nextInt(3))(
        if (rnd.nextBoolean()) MUpd(pick(srcConds)) else MDel(pick(srcConds))),
        srcConds)
      val notMatched: Seq[Act] = legalize(
        Seq.fill(rnd.nextInt(2))(NIns(pick(srcConds))), srcConds)
      val bySource0: Seq[Act] = legalize(Seq.fill(rnd.nextInt(2))(
        if (rnd.nextBoolean()) TUpd(pick(tgtConds)) else TDel(pick(tgtConds))),
        tgtConds)
      // the grammar requires at least one WHEN clause
      val bySource =
        if ((matched ++ notMatched ++ bySource0).isEmpty) Seq(TUpd(None))
        else bySource0
      tgt.toDF("id", "name", "v").createOrReplaceTempView("mfuzz_t")
      src.toDF("id", "name", "v").createOrReplaceTempView("mfuzz_s")
      val sql = (Seq("MERGE INTO mfuzz_t t USING mfuzz_s s ON t.id = s.id") ++
        matched.map {
          case a: MUpd => clauseSql("MATCHED", a,
            "UPDATE SET v = s.v + 1000, name = s.name")
          case a: MDel => clauseSql("MATCHED", a, "DELETE")
          case o => sys.error(s"$o")
        } ++
        notMatched.map(a => clauseSql("NOT MATCHED", a,
          "INSERT (id, name, v) VALUES (s.id, s.name, s.v)")) ++
        bySource.map {
          case a: TUpd => clauseSql("NOT MATCHED BY SOURCE", a,
            "UPDATE SET name = 'stale'")
          case a: TDel => clauseSql("NOT MATCHED BY SOURCE", a, "DELETE")
          case o => sys.error(s"$o")
        }).mkString("\n")
      val got = CatalogSql.plan(spark, sql).collect()
        .map(r => MergeFuzzRow(r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(identity).view.mapValues(_.size).toMap
      val want = interpret(tgt, src, matched, notMatched, bySource)
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == want, s"trial $trial diverged for:\n$sql")
    }
  }
}
