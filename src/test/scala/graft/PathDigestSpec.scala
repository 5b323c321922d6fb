package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.BinaryType
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.ExplodeBlocks
import graft.extract.{Engine, ExtractResult, Extractor}
import graft.gen.PageGen

/** Frozen digests over the extraction paths not covered by
  * `TinyExtractDigest` / `DualExtractDigest`: the Alt engine with its
  * spans, the Both engine's spans, and every column of the
  * `graft_explode_blocks` block view — all over PageGen ids 0..199.
  * Regenerate with -Dgraft.golden.paths=PRINT (a deliberate act). */
class PathDigestSpec extends AnyFunSuite {

  private def digest(name: String, expected: String)(feed: (String => Unit) => Unit): Unit = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    feed { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    val hex = md.digest().map(b => f"$b%02x").mkString
    val want = sys.props.getOrElse("graft.golden.paths", expected)
    if (want == "PRINT") info(s"$name digest=$hex")
    assert(hex == want, s"$name digest drifted: $hex")
  }

  private def feedResult(put: String => Unit, url: String, r: ExtractResult): Unit = {
    put(url)
    put(if (r.text == null) "\u0000NULL" else r.text)
    put(if (r.error == null) "" else r.error)
    put(r.spans.map(s => s"${s.start},${s.end},${s.kind}").mkString(";"))
  }

  test("golden freeze: alt-engine text, error and spans") {
    digest("alt", GoldenHashes.AltExtractDigest) { put =>
      (0L until 200L).foreach { id =>
        val row = PageGen.row(id)
        feedResult(put, row.url, Extractor.extract(row.html, row.lang, Engine.Alt))
      }
    }
  }

  test("golden freeze: dual-engine spans") {
    digest("dual spans", GoldenHashes.DualSpansDigest) { put =>
      (0L until 200L).foreach { id =>
        val row = PageGen.row(id)
        val r = Extractor.extract(row.html, row.lang, Engine.Both)
        put(row.url)
        put(r.spans.map(s => s"${s.start},${s.end},${s.kind}").mkString(";"))
      }
    }
  }

  test("golden freeze: graft_explode_blocks, all seven columns") {
    val gen = ExplodeBlocks(BoundReference(0, BinaryType, nullable = true))
    digest("explode", GoldenHashes.ExplodeBlocksDigest) { put =>
      (0L until 200L).foreach { id =>
        val row = PageGen.row(id)
        put(row.url)
        gen.eval(InternalRow(row.html)).iterator.foreach { r =>
          put(Seq(r.getInt(0), r.getInt(1), r.getUTF8String(2), r.getUTF8String(3),
            r.getInt(4), r.getInt(5), r.getBoolean(6)).mkString("|"))
        }
      }
    }
  }
}
