package graft.sources

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Deterministic office-file fixtures for the parse-operator oracle queries:
  * re-encode rows of the driver's parquet tables as real .docx/.pptx/.xlsx
  * archives on local disk, so the `binaryFile` load → parse path runs
  * against genuine zip+XML bytes while staying DuckDB-checkable (the parsed
  * text round-trips to expressions over the original tables).
  *
  * Generation is test scaffolding, not an operator: it collects the (small)
  * source slice once per (scale factor, kind) into the JVM temp dir and is
  * skipped via a success marker afterwards — the benched work is the
  * distributed read+parse, never this writer.
  */
object ParseFixtures {

  /** One .docx per `documents` row (`doc_<id>.docx`, body = the whole text
    * as a single paragraph). */
  def docxDir(spark: SparkSession, sfDir: String): String =
    cached(sfDir, "docx") { out =>
      docRows(spark, sfDir, None).foreach { case (id, text) =>
        Files.write(out.resolve(s"doc_$id.docx"), ParsingTools.makeDocx(Seq(text)))
      }
    }

  /** A single deck with one slide per `documents` row with doc_id < `n`,
    * slides in doc_id order. */
  def pptxDir(spark: SparkSession, sfDir: String, n: Int): String =
    cached(sfDir, s"pptx$n") { out =>
      val slides = docRows(spark, sfDir, Some(n)).map { case (_, text) => Seq(text) }
      Files.write(out.resolve("deck.pptx"), ParsingTools.makePptx(slides))
    }

  /** One .pdf per `documents` row with doc_id < `n` (`doc_<id>.pdf`, body =
    * the whole text as a single line on one page). */
  def pdfDir(spark: SparkSession, sfDir: String, n: Int): String =
    cached(sfDir, s"pdf$n") { out =>
      docRows(spark, sfDir, Some(n)).foreach { case (id, text) =>
        Files.write(out.resolve(s"doc_$id.pdf"), ParsingTools.makePdf(Seq(Seq(text))))
      }
    }

  /** A single .warc archive with one HTTP `response` record per
    * `documents` row, records in doc_id order. */
  def warcDir(spark: SparkSession, sfDir: String): String =
    cached(sfDir, "warc") { out =>
      val docs = docRows(spark, sfDir, None).map { case (id, text) =>
        (s"https://example.org/doc/$id", text)
      }
      Files.write(out.resolve("crawl.warc"), ParsingTools.makeWarc(docs))
    }

  /** A single mboxo mailbox with one message per `documents` row in
    * doc_id order — transfer encodings rotate 7bit / quoted-printable /
    * base64 by doc_id%3, so every decode arm round-trips under the
    * oracle. */
  def mboxDir(spark: SparkSession, sfDir: String): String =
    cached(sfDir, "mbox") { out =>
      val msgs = docRows(spark, sfDir, None).map { case (id, text) =>
        val enc = (id % 3) match {
          case 0 => "7bit"
          case 1 => "quoted-printable"
          case _ => "base64"
        }
        ParsingTools.makeEml(Seq(
          "From" -> s"writer$id@example.org",
          "Subject" -> s"doc $id"), text, enc)
      }
      Files.write(out.resolve("corpus.mbox"), ParsingTools.makeMbox(msgs))
    }

  /** A single .epub whose spine chapters are the `documents` texts in
    * doc_id order — real OCF/OPF/XHTML bytes the parser must walk in
    * spine order. */
  def epubDir(spark: SparkSession, sfDir: String): String =
    cached(sfDir, "epub") { out =>
      val chapters = docRows(spark, sfDir, None).map(_._2)
      Files.write(out.resolve("book.epub"), ParsingTools.makeEpub(chapters))
    }

  /** One canonical .wav per `documents` row (`doc_<id>.wav`) with
    * doc_id-derived channels/rate/payload size — real RIFF bytes the
    * audio-header parser must round-trip to the closed form. */
  def wavDir(spark: SparkSession, sfDir: String): String =
    cached(sfDir, "wav") { out =>
      docRows(spark, sfDir, None).foreach { case (id, _) =>
        val channels = 1 + (id % 2).toInt
        val rate = Seq(8000, 16000, 44100)((id % 3).toInt)
        val dataBytes = ((id % 50) + 1).toInt * 1000
        Files.write(out.resolve(s"doc_$id.wav"),
          graft.multimodal.AudioHeader.makeWav(channels, rate, 16, dataBytes))
      }
    }

  /** A single workbook of the `nation` table (key, name, regionkey), rows in
    * n_nationkey order. */
  def xlsxDir(spark: SparkSession, sfDir: String): String =
    cached(sfDir, "xlsx") { out =>
      val rows = graft.core.Tables(spark, sfDir, "nation")
        .selectExpr("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
        .map(r => Seq(r.get(0).toString, r.get(1).toString, r.get(2).toString))
        .toSeq
      Files.write(out.resolve("nation.xlsx"),
        ParsingTools.makeXlsx(Seq("n_nationkey", "n_name", "n_regionkey"), rows))
    }

  private def docRows(spark: SparkSession, sfDir: String, limitId: Option[Int]): Seq[(Long, String)] = {
    val docs = graft.core.Tables(spark, sfDir, "documents")
    val slice = limitId.map(n => docs.filter(s"doc_id < $n")).getOrElse(docs)
    slice.selectExpr("doc_id", "text").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  /** tmpdir/graft_parsefix_<sf>_<kind>; generated once, marker-guarded. */
  private def cached(sfDir: String, kind: String)(gen: Path => Unit): String =
    synchronized {
      val sf = Paths.get(sfDir).getFileName.toString
      val out = Paths.get(sys.props("java.io.tmpdir"), s"graft_parsefix_${sf}_$kind")
      val marker = out.resolve("_SUCCESS")
      if (!Files.exists(marker)) {
        Files.createDirectories(out)
        gen(out)
        Files.write(marker, Array.emptyByteArray)
      }
      out.toString
    }
}
