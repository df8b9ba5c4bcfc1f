package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.etl.{MatchConfig, Pipeline}
import graft.io.Ingest

import java.io.{ByteArrayOutputStream, File}
import java.net.InetSocketAddress
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

/** S6/S7 ingest utilities (loopback HTTP, no egress) + O1/O2 pipeline
  * orchestration. */
class IngestPipelineSpec extends SparkSpec {

  private def gz(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos); g.write(s.getBytes("UTF-8")); g.close()
    bos.toByteArray
  }

  private def withServer(routes: Map[String, HttpExchange => Unit])(
      body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    routes.foreach { case (path, h) =>
      server.createContext(path, new HttpHandler {
        def handle(ex: HttpExchange): Unit = h(ex)
      })
    }
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.sendResponseHeaders(code, body.length)
    ex.getResponseBody.write(body); ex.close()
  }

  test("download: gzip magic validated, HTML error page rejected, retry works") {
    val tmp = Files.createTempDirectory("ingest")
    val flaky = new AtomicInteger(0)
    withServer(Map(
      "/good.gz" -> (ex => respond(ex, 200, gz("payload"))),
      "/error.gz" -> (ex => respond(ex, 200,
        "<!DOCTYPE html><html>maintenance</html>".getBytes)),
      "/flaky.gz" -> (ex =>
        if (flaky.incrementAndGet() < 3) respond(ex, 503, Array[Byte]())
        else respond(ex, 200, gz("eventually"))))) { base =>
      val f = Ingest.download(s"$base/good.gz",
        tmp.resolve("good.gz").toFile, Some(Ingest.GzipMagic))
      assert(f.exists && f.length > 0)
      intercept[Exception] {
        Ingest.download(s"$base/error.gz", tmp.resolve("e.gz").toFile,
          Some(Ingest.GzipMagic), attempts = 1)
      }
      // 2 failures then success within 3 attempts
      val f2 = Ingest.download(s"$base/flaky.gz",
        tmp.resolve("flaky.gz").toFile, Some(Ingest.GzipMagic),
        attempts = 3, backoffMs = 10)
      assert(f2.exists && flaky.get() === 3)
    }
  }

  test("wetPaths index fetch + parallel fan-out with skip-on-failure") {
    val tmp = Files.createTempDirectory("ingest2")
    withServer(Map(
      "/paths.gz" -> (ex => respond(ex, 200,
        gz("crawl/a.warc.wet.gz\ncrawl/b.warc.wet.gz\ncrawl/c.warc.wet.gz"))),
      "/crawl/a.warc.wet.gz" -> (ex => respond(ex, 200, gz("A"))),
      "/crawl/b.warc.wet.gz" -> (ex => respond(ex, 404, Array[Byte]())),
      "/crawl/c.warc.wet.gz" -> (ex => respond(ex, 200, gz("C"))))) { base =>
      val paths = Ingest.wetPaths(s"$base/paths.gz", maxFiles = 2, tmp)
      assert(paths === Seq("crawl/a.warc.wet.gz", "crawl/b.warc.wet.gz"))
      val files = Ingest.downloadAll(
        Seq(s"$base/crawl/a.warc.wet.gz", s"$base/crawl/b.warc.wet.gz",
          s"$base/crawl/c.warc.wet.gz"),
        tmp, Some(Ingest.GzipMagic), parallelism = 3)
      assert(files.map(_.getName).sorted === Seq("a.warc.wet.gz", "c.warc.wet.gz"))
    }
  }

  test("zip extraction of xml entries (download_abr.py:129-158)") {
    val tmp = Files.createTempDirectory("ingest3")
    val zipFile = new File(tmp.toFile, "abr.zip")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(zipFile))
    zos.putNextEntry(new ZipEntry("20260101_Public01.xml"))
    zos.write("<Transfer></Transfer>".getBytes("UTF-8")); zos.closeEntry()
    zos.putNextEntry(new ZipEntry("readme.txt"))
    zos.write("ignore me".getBytes("UTF-8")); zos.closeEntry()
    zos.close()
    val out = Ingest.extractXml(zipFile, tmp)
    assert(out.map(_.getName) === Seq("20260101_Public01.xml"))
    assert(Files.readString(out.head.toPath) === "<Transfer></Transfer>")
  }

  test("pipeline run: 4 stages, counts and stats populated (pipeline.py:216-309)") {
    val result = Pipeline.run(
      Demo.ccRaw(spark, sf()), Demo.abrRaw(spark, sf()),
      MatchConfig(fuzzyThreshold = 0.6), graft.etl.Match.JaccardTokens,
      validAbnOnly = false)
    val s = result.stats
    assert(s.status === "completed")
    assert(s.ccExtracted > 0 && s.abrExtracted > 0)
    assert(s.ccCleaned <= s.ccExtracted && s.abrCleaned <= s.abrExtracted)
    assert(s.matchesFound > 0 && s.matchesFound <= s.ccCleaned)
    assert(s.unifiedCount > 0 && s.durationSeconds > 0)
    assert(result.dim.columns.contains("abn"))
    assert(result.matchStats.count() === 1)
  }

  test("pipeline run: a failing stage is wrapped with the run id and elapsed seconds") {
    val e = intercept[RuntimeException] {
      Pipeline.run(spark.range(3).toDF("x"), Demo.abrRaw(spark, sf()),
        runId = "badweb")
    }
    assert(e.getMessage.matches("""Pipeline run badweb failed after \d+\.\d s"""),
      e.getMessage)
    assert(e.getCause != null)
  }

  test("retry: exponential backoff, rethrows after attempts exhausted") {
    val calls = new AtomicInteger(0)
    intercept[IllegalStateException] {
      Pipeline.retry(attempts = 3, baseMs = 1, maxMs = 2) {
        calls.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(calls.get() === 3)
    val ok = Pipeline.retry(attempts = 2, baseMs = 1, maxMs = 2) {
      if (calls.incrementAndGet() < 5) throw new RuntimeException("once")
      else 42
    }
    assert(ok === 42)
  }
}
