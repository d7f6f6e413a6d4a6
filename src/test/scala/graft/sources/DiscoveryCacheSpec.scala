package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.v2.RestTable

/** R5 wiring proof: the catalog-discovery paths (REST layer list, OGC
  * collections document) are served through the driver-side
  * ResponseCache — a second discovery inside the TTL window never
  * touches the service again, an expired one refetches, and TTL 0
  * disables caching for the source (the `cache_ttl` config contract).
  * The "server" here is the filesystem stub, so "no refetch" is
  * observable by MUTATING the backing directory between calls.
  */
class DiscoveryCacheSpec extends AnyFunSuite {

  private def tempService(): java.io.File = {
    val d = Files.createTempDirectory("graft_disc").toFile
    d.deleteOnExit()
    d
  }

  test("REST layer discovery inside TTL is served from cache (stats.hits grows)") {
    val svc = tempService()
    new java.io.File(svc, "layer-0").mkdir()
    new java.io.File(svc, "layer-2").mkdir()
    val hits0 = RestTable.discoveryCache.stats.hits
    assert(RestTable.discoverLayers(svc.toString) == Seq(0, 2))
    // mutate the "server": a cached second discovery must not see this
    new java.io.File(svc, "layer-2").delete()
    assert(RestTable.discoverLayers(svc.toString) == Seq(0, 2),
      "second discovery inside TTL must be served from cache, not re-listed")
    assert(RestTable.discoveryCache.stats.hits > hits0,
      "cache stats must record the hit")
    // TTL 0 = caching disabled for the source → a real refetch, which
    // sees the mutation (and does not poison the cached entry)
    assert(RestTable.discoverLayers(svc.toString, ttlSeconds = 0) == Seq(0))
    assert(RestTable.discoverLayers(svc.toString) == Seq(0, 2))
  }

  test("REST layer discovery refetches after the TTL expires") {
    val svc = tempService()
    new java.io.File(svc, "layer-1").mkdir()
    assert(RestTable.discoverLayers(svc.toString, ttlSeconds = 1) == Seq(1))
    new java.io.File(svc, "layer-3").mkdir()
    Thread.sleep(1100) // cross the 1 s TTL
    assert(RestTable.discoverLayers(svc.toString, ttlSeconds = 1) == Seq(1, 3),
      "expired entry must refetch and see the new layer")
  }

  test("OGC collections discovery caches the document, expiry refetches") {
    val svc = tempService()
    def writeDoc(ids: Seq[String]): Unit = {
      val cols = ids.map(i => s"""{"id":"$i","title":"$i"}""").mkString(",")
      Files.writeString(new java.io.File(svc, "collections.json").toPath,
        s"""{"collections":[$cols]}""")
    }
    // hit check on a LONG TTL (an hour — a slow loaded box must not
    // expire it between the two calls)
    writeDoc(Seq("a", "b"))
    val hits0 = OgcApiSource.discoveryCache.stats.hits
    assert(OgcApiSource.discoverCollections(svc.toString).map(_.id) == Seq("a", "b"))
    writeDoc(Seq("a"))
    assert(OgcApiSource.discoverCollections(svc.toString).map(_.id) == Seq("a", "b"),
      "second discovery inside TTL must serve the cached document")
    assert(OgcApiSource.discoveryCache.stats.hits > hits0)
    // expiry check on a separate service dir with a 1 s TTL
    val svc2 = tempService()
    def writeDoc2(ids: Seq[String]): Unit = {
      val cols = ids.map(i => s"""{"id":"$i","title":"$i"}""").mkString(",")
      Files.writeString(new java.io.File(svc2, "collections.json").toPath,
        s"""{"collections":[$cols]}""")
    }
    writeDoc2(Seq("x", "y"))
    assert(OgcApiSource.discoverCollections(svc2.toString, ttlSeconds = 1)
      .map(_.id) == Seq("x", "y"))
    writeDoc2(Seq("x"))
    Thread.sleep(1100)
    assert(OgcApiSource.discoverCollections(svc2.toString, ttlSeconds = 1)
      .map(_.id) == Seq("x"),
      "expired entry must refetch the document")
  }
}
