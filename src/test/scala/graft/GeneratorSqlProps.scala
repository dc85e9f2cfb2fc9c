package graft

import graft.sql.QuestSql
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property tests for the dialect generator surface
  * (QuestSql.rewriteGeneratorFns): range functions honor their bounds
  * for arbitrary (lo, hi), string lengths stay inside theirs, switch
  * lowers to the same value CASE computes, and the weighted symbol
  * stream follows its weight ordering — all deterministic by
  * construction (md5-seeded), so every assertion is exact.
  */
object GeneratorSqlProps extends Properties("generator-sql") {
  private lazy val spark = {
    val s = Sessions.local(4)
    Engine.ensureFunctions(s)
    s
  }

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val genRange = for {
    lo <- Gen.chooseNum(-1000, 1000)
    span <- Gen.chooseNum(0, 2000)
  } yield (lo, lo + span)

  property("rnd_int/rnd_long stay inside [lo, hi]") =
    Prop.forAll(genRange) { case (lo, hi) =>
      val rows = QuestSql.sql(spark,
        s"SELECT rnd_int($lo, $hi) AS i, rnd_long($lo, $hi) AS l " +
          "FROM long_sequence(40)").collect()
      rows.forall { r =>
        r.getInt(0) >= lo && r.getInt(0) <= hi &&
          r.getLong(1) >= lo && r.getLong(1) <= hi
      }
    }

  property("rnd_str lengths stay inside [lo, hi]") =
    Prop.forAll(Gen.chooseNum(1, 16), Gen.chooseNum(0, 15)) { (lo, extra) =>
      val hi = math.min(lo + extra, 32)
      val rows = QuestSql.sql(spark,
        s"SELECT rnd_str($lo, $hi) AS s FROM long_sequence(30)").collect()
      rows.forall { r =>
        val n = r.getString(0).length; n >= lo && n <= hi
      }
    }

  property("switch lowering computes the CASE value") =
    Prop.forAll(Gen.chooseNum(2, 6)) { k =>
      val rows = QuestSql.sql(spark,
        s"SELECT x, switch(x % $k, 0, 'z', 1, 'o', 'rest') AS sw " +
          "FROM long_sequence(30)").collect()
      rows.forall { r =>
        val expect = (r.getLong(0) % k) match {
          case 0 => "z"; case 1 => "o"; case _ => "rest"
        }
        r.getString(1) == expect
      }
    }

  property("weighted symbols follow the weight order (deterministic stream)") =
    Prop.forAll(Gen.const(())) { _ =>
      val counts = QuestSql.sql(spark,
        "SELECT rnd_symbol_weighted('hot', 8.0, 'warm', 3.0, 'cold', 1.0) AS s " +
          "FROM long_sequence(600)").collect()
        .groupBy(_.getString(0)).view.mapValues(_.length).toMap
      counts("hot") > counts("warm") && counts("warm") > counts("cold")
    }

  property("nanRate nulls are deterministic and roughly proportional") =
    Prop.forAll(Gen.chooseNum(1, 4)) { rate =>
      def run() = QuestSql.sql(spark,
        s"SELECT rnd_double($rate) AS d FROM long_sequence(400)").collect()
        .count(_.isNullAt(0))
      val (a, b) = (run(), run())
      val expect = 400.0 / (rate + 1)
      a == b && a > expect * 0.5 && a < expect * 1.7
    }
}
