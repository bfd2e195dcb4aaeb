package graft

import java.util.concurrent.atomic.AtomicInteger

class ParSpec extends SparkSuite {
  test("Par.map: results in input order") {
    val out = Par.map(spark, (1 to 20).toList, 4) { i =>
      Thread.sleep((20 - i) % 7 * 5L)
      i * 2
    }
    assert(out == (1 to 20).map(_ * 2))
    assert(Par.map(spark, Seq.empty[Int], 3)(identity).isEmpty)
  }

  test("Par.map: at most width bodies run at once") {
    val running, peak = new AtomicInteger(0)
    Par.map(spark, 1 to 12, 3) { _ =>
      peak.accumulateAndGet(running.incrementAndGet(), _ max _)
      Thread.sleep(50)
      running.decrementAndGet()
    }
    assert(peak.get <= 3, s"peak ${peak.get}")
    assert(peak.get > 1, "bodies ran one at a time")
  }

  test("Par.map: the body's own exception comes back, fatal errors included") {
    val e = intercept[IllegalArgumentException] {
      Par.map(spark, Seq(1, 2, 3), 2) { i => require(i != 2, s"item $i rejected"); i }
    }
    assert(e.getMessage.contains("item 2 rejected"))
    val so = intercept[StackOverflowError] {
      Par.map(spark, Seq(1, 2), 2) { i => if (i == 2) throw new StackOverflowError("deep"); i }
    }
    assert(so.getMessage == "deep")
    // the first failure in INPUT order wins, even when a later one lands first
    intercept[IllegalStateException] {
      Par.map(spark, Seq(1, 2), 2) { i =>
        if (i == 1) { Thread.sleep(200); throw new IllegalStateException("first") }
        else throw new ArithmeticException("second")
      }
    }
  }

  test("Par.map: bodies and their jobs carry the caller's local properties") {
    val sc = spark.sparkContext
    val key = "graft.test.par"
    sc.setLocalProperty(key, "p")
    try {
      var inBody = Seq.empty[String]
      val tags = new JobTags(sc, key).of {
        inBody = Par.map(spark, 1 to 4, 2) { i =>
          sc.parallelize(1 to 10, 2).map(_ * i).count()
          sc.getLocalProperty(key)
        }
      }
      assert(inBody == Seq.fill(4)("p"))
      assert(tags.size == 4 && tags.forall(_ == "p"), tags)
    } finally sc.setLocalProperty(key, null)
  }
}
