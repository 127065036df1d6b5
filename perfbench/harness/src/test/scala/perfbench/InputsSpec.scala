package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def tinyUploads(seed: Long, n: Int): Seq[Upload] = {
    val gen = new UploadGen(seed, small = (5, 40), large = Some((200, 300)))
    Seq.fill(n)(gen.next())
  }

  test("expected state equals a brute-force last-wins replay") {
    val uploads = tinyUploads(7L, 25)
    val expected = new ExpectedState
    uploads.foreach(expected(_))
    // replay every row by locid, keeping the highest seq
    val replay = scala.collection.mutable.Map[String, (Long, Seq[String])]()
    for (u <- uploads; i <- 0 until u.rows) {
      val f = Rows.fields(u.keys(i), u.codes(i)).toSeq
      val seq = u.firstSeq + i
      if (replay.get(f.head).forall(_._1 < seq)) replay(f.head) = (seq, f)
    }
    assert(expected.keys == replay.size)
    (0 until expected.keys).foreach { k =>
      assert(Rows.fields(k, expected.code(k)).toSeq == replay(Rows.locid(k))._2)
    }
    val sumHash = replay.values.map { case (_, f) => BigInt(Rows.hashFields(f)) }.sum
    assert(expected.checksum == ((replay.size.toLong, sumHash)))
  }

  test("uploads: updates, later in-file duplicates and the large cadence") {
    val uploads = tinyUploads(11L, 30)
    assert(uploads.map(_.rows) == tinyUploads(11L, 30).map(_.rows), "not seeded")
    uploads.zipWithIndex.foreach { case (u, i) =>
      if (i % 10 == 9) assert(u.rows >= 200) else assert(u.rows <= 41)
    }
    val seen = scala.collection.mutable.Set[Int]()
    var updates = 0
    var rows = 0
    uploads.tail.foreach { u =>
      val before = seen.clone()
      u.keys.foreach { k => if (before(k)) updates += 1 }
      rows += u.rows
      seen ++= u.keys
    }
    seen ++= uploads.head.keys
    val share = updates.toDouble / rows
    assert(share > 0.2 && share < 0.4, s"update share $share")
    val large = uploads(9)
    assert(large.keys.length > large.keys.distinct.length, "no in-file duplicate")
    // seq rises by one per row across uploads
    uploads.sliding(2).foreach { case Seq(a, b) =>
      assert(b.firstSeq == a.firstSeq + a.rows)
    }
  }

  test("browse sessions stay on the table and start at page 1") {
    val b = new BrowseGen(3L, keys = 95, pageSize = 10)
    val offsets = Seq.fill(500)(b.next())
    assert(offsets.head == 0)
    assert(offsets.forall(o => o >= 0 && o < 95 && o % 10 == 0))
    assert(offsets.count(_ == 0) > 20 && offsets.distinct.size == 10)
  }

  test("the page checker accepts the exact slice and rejects an off-by-one page") {
    val expected = new ExpectedState
    tinyUploads(5L, 4).foreach(expected(_))
    val right = expected.pageJson(20, 10)
    assert(PageCheck.ok(right, expected, 20, 10))
    assert(!PageCheck.ok(expected.pageJson(21, 10), expected, 20, 10))
    assert(!PageCheck.ok(expected.pageJson(19, 10), expected, 20, 10))
    assert(!PageCheck.ok(expected.pageJson(20, 9), expected, 20, 10))
    assert(!PageCheck.ok(right.replace("USA", "UK"), expected, 20, 10) ||
      !right.contains("USA"))
    assert(expected.pageJson(expected.keys, 10) == "[]")
  }
}
