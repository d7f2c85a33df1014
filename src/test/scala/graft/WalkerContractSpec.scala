package graft

import graft.operators.MmOps
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{ExecutionException, ExecutorService, Executors, TimeUnit, TimeoutException}

/** The container-walker contract: every binary walker in [[MmOps]]
  * answers `None` or `Some` on ANY input, and never throws or loops.
  *
  * Each walker gets one planted blob from its own builder, cut at every
  * length, and with each of five 32-bit patterns written at every offset:
  * sizes that are negative as a signed Int (F0FFFFFF, FFFFFFF0,
  * FFFFFF7F), the largest signed Int, and zero. Two short blobs ride
  * along as rows of their own: in each, a size read as a signed Int
  * would step the PNG or AVI walker back onto a chunk it has read.
  *
  * Each call runs on a daemon worker thread and must answer within 2 s,
  * so a loop that ignores interrupts fails its test instead of stalling
  * the suite (the stuck thread is abandoned; being a daemon, it cannot
  * keep the JVM alive). */
class WalkerContractSpec extends AnyFunSuite {
  private val Patterns = Seq(0xF0FFFFFF, 0xFFFFFFF0, 0x7FFFFFFF, 0xFFFFFF7F, 0x00000000)

  /** Every truncation of `blob`, then every pattern at every offset. */
  private def sweep(blob: Array[Byte]): Seq[(String, Array[Byte])] =
    (0 until blob.length).map(n => s"first $n bytes" -> blob.take(n)) ++
      (for (p <- Patterns; off <- 0 to blob.length - 4) yield {
        val b = blob.clone()
        (0 until 4).foreach(k => b(off + k) = (p >>> (24 - 8 * k)).toByte)
        f"$p%08X at offset $off" -> b
      })

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def ascii(s: String): String = s.getBytes("US-ASCII").map(b => f"$b%02X").mkString

  private val table: Seq[(String, Array[Byte] => Option[Any], Seq[(String, Array[Byte])])] = Seq(
    ("wav", MmOps.parseWavHeader, sweep(MmOps.wavHeader(8000, 1, 16, 100))),
    ("mp4", MmOps.parseMp4Meta, sweep(MmOps.mp4Bytes("isom", 600, 42))),
    ("audio", MmOps.audioFeatures,
      sweep(MmOps.wavBytes(8000, Array.tabulate(32)(i => (i * 100 - 1600).toShort)))),
    ("jpeg", MmOps.parseJpegMeta, sweep(MmOps.syntheticJpeg(8, 8))),
    ("png", MmOps.parsePngChunks, sweep(MmOps.syntheticPng(1))),
    ("gif", MmOps.parseGifMeta, sweep(MmOps.syntheticGif(1))),
    ("bmp", MmOps.parseBmpMeta, sweep(MmOps.syntheticBmp(1))),
    ("tar", MmOps.parseTar, sweep(MmOps.tarBytes(Seq("1.txt" -> "doc 1".getBytes("UTF-8"))))),
    ("zip", MmOps.parseZip, sweep(MmOps.zipBytes(Seq(
      "1.txt" -> "doc 1".getBytes("UTF-8"), "1.cls" -> "en".getBytes("UTF-8"))))),
    ("pdf", MmOps.parsePdf, sweep(MmOps.pdfBytes(2, 612, 792))),
    ("mp3", MmOps.parseMp3, sweep(MmOps.mp3Stream(1, 1, 3))),
    ("id3", MmOps.parseId3Mp3, sweep(MmOps.id3Mp3Stream(5, 1, 1, 2))),
    ("flac", MmOps.parseFlacHeader, sweep(MmOps.flacHeader(44100, 2, 16, 12345L))),
    ("exif", MmOps.parseExif, sweep(MmOps.exifJpeg(littleEndian = false, 6, 640, 480))),
    ("webp", MmOps.parseWebpMeta, sweep(MmOps.syntheticWebp(3))),
    ("ogg", MmOps.parseOggMeta, sweep(MmOps.syntheticOgg(1))),
    ("avi", MmOps.parseAviMeta, sweep(MmOps.syntheticAvi(1))),
    ("ico", MmOps.parseIcoMeta, sweep(MmOps.syntheticIco(1))),
    ("aiff", MmOps.parseAiffMeta, sweep(MmOps.syntheticAiff(5))),
    // signature, then a chunk of length FFFFFFF4: as a signed Int, 12 + len is 0
    ("png chunk length FFFFFFF4 (16 bytes)", MmOps.parsePngChunks,
      Seq("16 bytes" -> hex("89504E470D0A1A0A" + "FFFFFFF4" + ascii("tEXt")))),
    // an empty idx1, then one of size F0FFFFFF: as a signed Int, 8 + size is -8
    ("avi idx1 size F0FFFFFF (28 bytes)", MmOps.parseAviMeta,
      Seq("28 bytes" -> hex(ascii("RIFF") + "14000000" + ascii("AVI ") +
        ascii("idx1") + "00000000" + ascii("idx1") + "F0FFFFFF"))))

  test("a PNG chunk that overruns the blob, and a WebP EXIF flag that disagrees with its chunk, are malformed") {
    val png = MmOps.syntheticPng(1)
    assert(MmOps.parsePngChunks(png).isDefined)
    assert(MmOps.parsePngChunks(png.dropRight(4)).isEmpty, "IEND without its CRC")
    val flagOff = 20 // RIFF header(12) + VP8X fourcc and size(8): the VP8X flags byte
    val plain = MmOps.syntheticWebp(37) // no EXIF chunk
    val announced = plain.clone(); announced(flagOff) = 0x08
    assert(MmOps.parseWebpMeta(plain).isDefined)
    assert(MmOps.parseWebpMeta(announced).isEmpty, "EXIF flag set, no EXIF chunk")
    val withExif = MmOps.syntheticWebp(36)
    val unannounced = withExif.clone(); unannounced(flagOff) = 0
    assert(MmOps.parseWebpMeta(withExif).isDefined)
    assert(MmOps.parseWebpMeta(unannounced).isEmpty, "EXIF chunk, flag clear")
  }

  private def worker(): ExecutorService = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "walker-contract"); t.setDaemon(true); t
  }

  table.foreach { case (name, walker, inputs) =>
    test(s"$name walker: None or Some on every malformed input, never a throw or a hang") {
      val pool = worker()
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      var hung = false
      val it = inputs.iterator
      try {
        while (!hung && it.hasNext) {
          val (desc, bytes) = it.next()
          val answer = pool.submit(() => walker(bytes))
          try answer.get(2, TimeUnit.SECONDS)
          catch {
            case e: ExecutionException => failures += s"$desc: threw ${e.getCause}"
            case _: TimeoutException =>
              failures += s"$desc: no answer within 2 s"
              hung = true // the looping thread is abandoned below
          }
        }
      } finally pool.shutdownNow()
      assert(failures.isEmpty,
        s"${failures.size} of ${inputs.size} inputs broke the contract, e.g. ${failures.take(3).mkString("; ")}")
    }
  }
}
