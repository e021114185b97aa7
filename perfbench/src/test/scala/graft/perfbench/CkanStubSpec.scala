package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

class CkanStubSpec extends AnyFunSuite {

  private val client = HttpClient.newHttpClient()

  private def post(stub: CkanStub, action: String, body: String): Int =
    client.send(HttpRequest.newBuilder(URI.create(s"${stub.url}/$action"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  private def get(stub: CkanStub, query: String): String =
    client.send(HttpRequest.newBuilder(URI.create(s"${stub.url}/package_search?$query"))
      .GET().build(), HttpResponse.BodyHandlers.ofString()).body()

  test("write calls route 200/409/404/400 like the CKAN action API") {
    val stub = new CkanStub("o_orderkey", threads = 2)
    try {
      assert(post(stub, "package_create", """{"o_orderkey":7,"v":"a"}""") === 200)
      assert(post(stub, "package_create", """{"o_orderkey":7,"v":"b"}""") === 409)
      assert(post(stub, "package_update", """{"o_orderkey":8,"v":"c"}""") === 404)
      assert(post(stub, "package_update", """{"o_orderkey":7,"v":"d"}""") === 200)
      assert(stub.store.get("7") === """{"o_orderkey":7,"v":"d"}""")
      assert(post(stub, "package_delete", """{"o_orderkey":7}""") === 200)
      assert(post(stub, "package_delete", """{"o_orderkey":7}""") === 404)
      assert(post(stub, "package_create", """{"name":"no id"}""") === 400)
      assert(stub.requests.sum() === 7)
      assert(stub.http2xx.sum() === 3)
      assert(stub.http409.sum() === 1)
      assert(stub.http404.sum() === 2)
      assert(stub.httpOther.sum() === 1)
      assert(stub.busyNanos.sum() > 0)
      assert(stub.callsByVerb === Map("create" -> Seq("7", "7"),
        "update" -> Seq("8", "7"), "delete" -> Seq("7", "7")))
    } finally stub.stop()
  }

  test("package_search pages the documents in key order with the total count") {
    val stub = new CkanStub("o_orderkey", threads = 2)
    try {
      val docs = new java.util.HashMap[String, String]()
      Seq(3L, 10L, 1L, 200L, 20L).foreach(k => docs.put(k.toString, s"""{"o_orderkey":$k}"""))
      stub.reset(docs)
      assert(get(stub, "offset=0&limit=2") ===
        """{"count":5,"results":[{"o_orderkey":1},{"o_orderkey":3}]}""")
      assert(get(stub, "offset=4&limit=2") === """{"count":5,"results":[{"o_orderkey":200}]}""")
      assert(get(stub, "offset=9&limit=2") === """{"count":5,"results":[]}""")
      assert(stub.searches.sum() === 3)
      // reads are not write calls
      assert(stub.calls.isEmpty)
      stub.reset(new java.util.HashMap[String, String]())
      assert(get(stub, "offset=0&limit=1") === """{"count":0,"results":[]}""")
    } finally stub.stop()
  }
}
