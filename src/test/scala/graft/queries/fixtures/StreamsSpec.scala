package graft.queries.fixtures

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {

  test("withTempDir removes its directory after the body returns") {
    var seen: Path = null
    val out = Streams.withTempDir("graft-spec") { dir =>
      seen = Path.of(dir)
      Files.writeString(seen.resolve("f"), "x")
      42
    }
    assert(out == 42)
    assert(seen.getFileName.toString.startsWith("graft-spec"))
    assert(!Files.exists(seen))
  }

  test("withTempDir passes a body's exception on and still cleans up") {
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      Streams.withTempDir("graft-spec") { dir =>
        seen = Path.of(dir)
        Files.createDirectories(seen.resolve("sub/deeper"))
        Files.writeString(seen.resolve("sub/f"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(seen != null && !Files.exists(seen))
  }
}
