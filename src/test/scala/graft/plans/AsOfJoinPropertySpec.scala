package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property: AsOfJoinExec agrees with a trivial in-memory as-of reference
  * on random inputs (small key/time domains force collisions, ties, and
  * empty-match cases across shuffle partitions). */
object AsOfJoinPropertySpec extends Properties("AsOfJoinExec") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark: SparkSession = {
    val s = graft.GraftSession.tuned(SparkSession.builder()).master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      // keep in lockstep with SparkTestBase: whichever suite runs first
      // creates the ONE shared session, and extensions (the r12 view
      // rules) only apply at creation
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ~1 in 7 keys/times is NULL on both sides: null left rows must emit an
  // unmatched row, null right rows must be skipped (never coerced to 0).
  private val genKey: Gen[Option[Long]] =
    Gen.frequency(6 -> Gen.chooseNum(0L, 5L).map(Some(_)), 1 -> Gen.const(None))
  private val genTime: Gen[Option[Long]] =
    Gen.frequency(6 -> Gen.chooseNum(0L, 20L).map(Some(_)), 1 -> Gen.const(None))

  private val genRows = for {
    nL <- Gen.chooseNum(0, 30)
    nR <- Gen.chooseNum(0, 30)
    ls <- Gen.listOfN(nL, Gen.zip(genKey, genTime))
    rs <- Gen.listOfN(nR, Gen.zip(genKey, genTime))
  } yield (ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
           // unique (k, t) on the right so the expected match is unambiguous
           rs.distinct.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) })

  property("matches the in-memory as-of reference (with nulls)") = forAll(genRows) { case (ls, rs) =>
    import spark.implicits._
    val l = ls.toDF("k", "t", "lid")
    val r = rs.toDF("rk", "rt", "rid")
    val got = AsOfJoin.asof(l, r, "k", "rk", "t", "rt")
      .select($"lid", $"rid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1))))
      .toMap
    val expected = ls.map { case (k, t, lid) =>
      val m = (k, t) match {
        case (Some(kk), Some(tt)) =>
          rs.filter(x => x._1.contains(kk) && x._2.exists(_ <= tt))
        case _ => Nil // null left key/time: never matches
      }
      lid -> (if (m.isEmpty) None else Some(m.maxBy(_._2.get)._3))
    }.toMap
    got == expected
  }
}
