package graft.etl

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkTestBase

/** Property tests (SURVEY.md §5(3)): ∀ generated sessions —
  * conservation (every record lands in exactly one channel), sum invariants,
  * and length semantics. Uses raw ScalaCheck generators with fixed seeds
  * (the scalatest↔scalacheck bridge artifact isn't in the offline cache).
  */
class EtlPropertySpec extends SparkTestBase {
  import spark.implicits._
  import EtlPropertySpec._

  test("conservation + sum invariants over generated sessions") {
    for (seed <- 1L to 5L) {
      val sessions = Gen.listOfN(30, sessionGen)
        .apply(Gen.Parameters.default, Seed(seed)).get.distinctBy(_._1)
      locally {
        val jsons = sessions.map((toJson _).tupled)
        val out = SessionEtl.transform(jsons.toDF("data"))
        val enriched = out.enriched.collect()
        // conservation: every input in exactly one channel
        assert(enriched.length + out.deadLetter.count() == sessions.length)
        val expected = sessions.map { case (sid, country, items) =>
          sid -> ((items.map(_.quantity.toLong).sum,
                   items.filter(_.inCart.contains(true)).map(_.quantity.toLong).sum,
                   items.length.toLong,
                   if (country == "USA") "usa" else "international"))
        }.toMap
        enriched.foreach { r =>
          val (opq, oisc, tdp, route) = expected(r.getAs[String]("session_id"))
          assert(r.getAs[Long]("overall_product_quantity") == opq)
          assert(r.getAs[Long]("overall_in_shopping_cart") == oisc)
          assert(r.getAs[Long]("total_different_products") == tdp)
          assert(r.getAs[String]("route") == route)
          // invariant: cart sum never exceeds total sum
          assert(r.getAs[Long]("overall_in_shopping_cart")
            <= r.getAs[Long]("overall_product_quantity"))
        }
      }
    }
  }
}

/** The session generators, shared with [[SessionDecodeDifferentialSpec]]. */
object EtlPropertySpec {
  final case class Item(code: String, quantity: Int, inCart: Option[Boolean])

  val itemGen: Gen[Item] = for {
    code <- Gen.alphaNumStr.map("P" + _.take(6))
    q <- Gen.chooseNum(0, 50)
    cart <- Gen.option(Gen.oneOf(true, false))
  } yield Item(code, q, cart)

  val sessionGen: Gen[(String, String, List[Item])] = for {
    sid <- Gen.uuid.map(_.toString.take(8))
    country <- Gen.oneOf("USA", "Colombia", "usa", "Germany", "")
    items <- Gen.listOfN(5, itemGen).map(_.take(5))
  } yield (sid, country, items)

  def toJson(sid: String, country: String, items: List[Item]): String = {
    val bh = items.map { i =>
      val cart = i.inCart.map(_.toString).getOrElse("null")
      s"""{"product_code":"${i.code}","quantity":${i.quantity},"in_shopping_cart":$cart}"""
    }.mkString("[", ",", "]")
    s"""{"session_id":"$sid","country":"$country","browse_history":$bh}"""
  }
}
