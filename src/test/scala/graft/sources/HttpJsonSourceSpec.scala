package graft.sources

import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.SparkSuite
import graft.pipeline.NbaPipeline

/** S4 retrying-ingest contract against a local stub server: the
  * tenacity wait law is replayed exactly, a fail-twice-then-serve
  * endpoint succeeds on attempt 3, exhaustion throws, and a pipeline
  * whose games table arrives over HTTP is row-identical to the
  * fixture-fed pipeline. */
class HttpJsonSourceSpec extends SparkSuite {
  private def withServer(paths: Map[String, HttpExchange => Unit])(
      body: Int => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    paths.foreach { case (p, h) =>
      server.createContext(p, (ex: HttpExchange) => h(ex))
    }
    server.start()
    try body(server.getAddress.getPort)
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, payload: String): Unit = {
    val bytes = payload.getBytes("UTF-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  test("backoff replays tenacity wait_exponential(1, min=4, max=10)") {
    // tenacity computes multiplier·2^attempt_number: waits after
    // attempts 1..5 in ms: 2s → clamped to 4s, 4s → 4s, 8s → 8s,
    // 16s → capped at 10s, 32s → 10s
    val got = (1 to 5).map(
      HttpJsonSource.backoffMs(_, multiplierMs = 1000, minMs = 4000,
        maxMs = 10000))
    assert(got === Seq(4000L, 4000L, 8000L, 10000L, 10000L))
  }

  test("fail twice then serve: success on attempt 3, schedule recorded") {
    val hits = new AtomicInteger(0)
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    withServer(Map("/flaky" -> { ex =>
      if (hits.incrementAndGet() <= 2) respond(ex, 500, "boom")
      else respond(ex, 200, """[{"a": 1}, {"a": 2}]""")
    })) { port =>
      val (body, attempts) = HttpJsonSource.fetchWithRetry(
        s"http://127.0.0.1:$port/flaky", sleeper = sleeps.append(_))
      assert(attempts === 3)
      assert(body.contains("\"a\": 2"))
      // two backoffs (4s, 4s) then the post-success rate-limit pause
      assert(sleeps.toSeq === Seq(4000L, 4000L, 3000L))
    }
  }

  test("a permanently failing endpoint exhausts its 5 attempts and throws") {
    val hits = new AtomicInteger(0)
    withServer(Map("/dead" -> { ex =>
      hits.incrementAndGet(); respond(ex, 503, "nope")
    })) { port =>
      val e = intercept[java.io.IOException] {
        HttpJsonSource.fetchWithRetry(
          s"http://127.0.0.1:$port/dead", sleeper = _ => ())
      }
      assert(e.getMessage.contains("after 5 attempts"))
      assert(hits.get() === 5)
    }
  }

  test("pipeline with HTTP games bronze == fixture pipeline, to the row") {
    val fixtures = getClass.getResource("/nba").getPath
    val gamesJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fixtures/games.json")), "UTF-8")
    val hits = new AtomicInteger(0)
    withServer(Map("/games" -> { ex =>
      // first request 500s: the pipeline must retry through it
      if (hits.incrementAndGet() == 1) respond(ex, 500, "rate limited")
      else respond(ex, 200, gamesJson)
    })) { port =>
      val viaHttp = NbaPipeline(spark, fixtures,
        httpSources = Map("games" -> s"http://127.0.0.1:$port/games"),
        httpSleeper = _ => ())
      val viaFile = NbaPipeline(spark, fixtures)
      def rows(p: NbaPipeline, t: String) = {
        val df = p.silver(t)
        df.collect().map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
      }
      assert(viaHttp.silver("games").columns.toSeq
        === viaFile.silver("games").columns.toSeq)
      assert(rows(viaHttp, "games") === rows(viaFile, "games"))
      assert(hits.get() >= 2)
      // gold built on the HTTP bronze matches too (one model suffices —
      // the silver frames are already proven identical)
      val gHttp = viaHttp.gold("summary_by_season").collect()
        .map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
      val gFile = viaFile.gold("summary_by_season").collect()
        .map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
      assert(gHttp === gFile)
    }
  }
}
