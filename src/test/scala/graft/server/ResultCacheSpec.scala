package graft.server

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** S7 cache semantics: LRU capacity, TTL expiry, per-item size cap, and
  * order-insensitive key canonicalization. */
class ResultCacheSpec extends AnyFunSuite {

  test("capacity evicts least-recently-used") {
    val c = new ResultCache(maxItems = 2)
    c.put("a", "1"); c.put("b", "2")
    assert(c.get("a").contains("1")) // touch a → b becomes LRU
    c.put("c", "3")
    assert(c.get("b").isEmpty)
    assert(c.get("a").contains("1") && c.get("c").contains("3"))
  }

  test("TTL expires entries") {
    val c = new ResultCache(ttlMillis = 50)
    c.put("k", "v")
    assert(c.get("k").contains("v"))
    Thread.sleep(80)
    assert(c.get("k").isEmpty)
  }

  test("oversized results are never cached (4 MB guard semantics)") {
    val c = new ResultCache(itemSizeLimit = 10)
    c.put("big", "x" * 11)
    c.put("ok", "x" * 10)
    assert(c.get("big").isEmpty)
    assert(c.get("ok").isDefined)
  }

  test("the response tee honours the configured item size limit") {
    val chunk = ("x" * (64 * 1024)).getBytes(UTF_8)
    val chunks = Seq.fill(72)(chunk) // 4.5 MB
    val big = new ResultCache(itemSizeLimit = 5 * 1024 * 1024)
    val sent = new java.io.ByteArrayOutputStream()
    val t = big.tee("k", sent.write(_))
    chunks.foreach(t.out)
    t.commit()
    assert(sent.size == 72 * chunk.length)
    assert(big.get("k").contains(sent.toString(UTF_8)))

    val small = new ResultCache(itemSizeLimit = 1024)
    val s = small.tee("k", _ => ())
    s.out(("x" * 1000).getBytes(UTF_8))
    assert(s.buffering)
    s.out(("x" * 100).getBytes(UTF_8))
    assert(!s.buffering, "buffering stops after the chunk that crosses the limit")
    s.out("y".getBytes(UTF_8))
    s.commit()
    assert(small.get("k").isEmpty)
    assert(small.size == 0)
  }

  test("the item size limit counts UTF-8 bytes, not chars") {
    val c = new ResultCache(itemSizeLimit = 10)
    val over = "é日本😀" // 5 chars, 12 bytes
    assert(over.length <= 10 && over.getBytes(UTF_8).length > 10)
    c.put("put", over)
    assert(c.get("put").isEmpty)
    c.put("fits", "ééééé") // 10 bytes
    assert(c.get("fits").contains("ééééé"))
    val t = c.tee("tee", _ => ())
    t.out(over.getBytes(UTF_8))
    assert(!t.buffering)
    t.commit()
    assert(c.get("tee").isEmpty)
  }

  test("key canonicalization is argument-order insensitive") {
    val c = new ResultCache()
    assert(c.key(Map("b" -> "2", "a" -> "1")) == c.key(Map("a" -> "1", "b" -> "2")))
  }

  test("topics cache populates on start and stops cleanly") {
    val t = new TopicsCache(Seq("cluster-a"), refreshSeconds = 1).start()
    assert(t.topics("cluster-a").contains("events"))
    assert(t.all.keySet == Set("cluster-a"))
    t.stop()
  }
}
