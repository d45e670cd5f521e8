package graft.operators

import java.io.ByteArrayOutputStream

import graft.operators.Bytes.{i32be, le16, le32, putLe32, u16le, u32le}

/** Pure-JVM ICO (Windows icon) codec — the favicon container, a
  * non-trivial image population of any web crawl (nearly every site
  * root serves one). Public spec: the ICONDIR/ICONDIRENTRY layout
  * documented by Microsoft ("Icons" Win32 docs) plus the two entry
  * payloads the format allows: a complete PNG stream (Vista+) or a
  * headerless BMP DIB whose biHeight is DOUBLED to cover the XOR
  * pixel data plus the trailing 1-bit AND transparency mask.
  *
  * The decode contract follows the curation rule a favicon pipeline
  * wants: pick the LARGEST entry (directory dims, 0 = 256) and decode
  * only that one. Payload subset matches the sibling decoders in
  * [[Pixels]]: PNG entries via the grayscale PNG decoder, DIB entries
  * via the 8-bit palette BMP decoder (the DIB is re-wrapped into a
  * 'BM' stream with its height un-doubled so the tested BMP path does
  * the pixel work; the AND mask trails the XOR rows and is ignored by
  * construction). Corrupt → None, never a throw.
  */
object Ico {

  /** Decoded icon: entry count, the chosen (largest) entry's payload
    * kind ("png" | "dib"), its dims, and its luma pixels. */
  final case class IcoImage(nEntries: Int, entryFormat: String,
      width: Int, height: Int, luma: Array[Int])

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G'

  def decodeIco(b: Array[Byte]): Option[IcoImage] =
    try {
      if (b == null || b.length < 22) return None
      if (b(0) != 0 || b(1) != 0 || u16le(b, 2) != 1) return None
      val n = u16le(b, 4)
      if (n < 1 || 6 + 16L * n > b.length) return None
      // largest directory dims win (0 encodes 256); ties keep the first
      var best = 0
      var bestArea = -1L
      var i = 0
      while (i < n) {
        val e = 6 + 16 * i
        val w = if ((b(e) & 0xff) == 0) 256 else b(e) & 0xff
        val h = if ((b(e + 1) & 0xff) == 0) 256 else b(e + 1) & 0xff
        if (w.toLong * h > bestArea) { bestArea = w.toLong * h; best = i }
        i += 1
      }
      val e = 6 + 16 * best
      val len = u32le(b, e + 8)
      val off = u32le(b, e + 12)
      if (off < 6 + 16L * n || len < 16 || off + len > b.length) return None
      val img = java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
      if (isPng(img))
        Pixels.decodeGrayPng(img).map { case (w, h, px) =>
          IcoImage(n, "png", w, h, px)
        }
      else {
        // headerless DIB: biHeight covers XOR + AND mask → halve it,
        // wrap in a 'BM' file header pointing past header + palette
        val biSize = u32le(img, 0)
        if (biSize < 40 || img.length < biSize) return None
        val h2 = u32le(img, 8)
        if (h2 <= 0 || h2 % 2 != 0) return None // doubled height, bottom-up
        val h = h2 / 2
        if (u16le(img, 14) != 8) return None // 8-bit palette subset
        var palSize = u32le(img, 32)
        if (palSize == 0) palSize = 256
        val offBits = 14 + biSize + palSize * 4
        val bmp = new Array[Byte](14 + img.length)
        bmp(0) = 'B'; bmp(1) = 'M'
        putLe32(bmp, 2, 14L + img.length)
        putLe32(bmp, 10, offBits)
        System.arraycopy(img, 0, bmp, 14, img.length)
        putLe32(bmp, 14 + 8, h) // un-double biHeight
        Pixels.decodeGrayBmp(bmp).map { case (w, dh, px) =>
          IcoImage(n, "dib", w, dh, px)
        }
      }
    } catch { case _: Exception => None }

  /** Fixture emitter: wrap PNG and/or BMP blobs into one ICO. BMP
    * inputs (from [[Pixels.encodeGrayBmp]]) lose their 14-byte file
    * header, get biHeight doubled, and gain an all-zero AND mask —
    * exactly the stored shape; PNG inputs are stored verbatim. Entry
    * dims are read out of each blob's own header for the directory
    * (0 byte encodes 256). */
  def encodeIco(blobs: Seq[Array[Byte]]): Array[Byte] = {
    require(blobs.nonEmpty && blobs.size <= 0xffff, "1..65535 entries")
    val entries = blobs.map { blob =>
      if (isPng(blob)) {
        // IHDR dims: big-endian u32s at offsets 16/20
        (i32be(blob, 16), i32be(blob, 20), 32, blob)
      } else {
        require(blob.length >= 54 && blob(0) == 'B' && blob(1) == 'M',
          "entry must be PNG or BMP")
        val w = u32le(blob, 18).toInt
        val h = u32le(blob, 22).toInt
        val dib = java.util.Arrays.copyOfRange(blob, 14, blob.length)
        // double the height over XOR + AND mask
        val h2 = 2L * h
        dib(8) = (h2 & 0xff).toByte; dib(9) = ((h2 >> 8) & 0xff).toByte
        dib(10) = ((h2 >> 16) & 0xff).toByte
        dib(11) = ((h2 >> 24) & 0xff).toByte
        val maskStride = (w + 31) / 32 * 4
        (w, h, 8, dib ++ new Array[Byte](maskStride * h))
      }
    }
    entries.foreach { case (w, h, _, _) =>
      require(w >= 1 && h >= 1 && (w <= 255 || w == 256) &&
        (h <= 255 || h == 256), s"ICO dims are u8 (0=256): ${w}x$h")
    }
    val out = new ByteArrayOutputStream(
      6 + entries.size * 16 + entries.map(_._4.length).sum)
    le16(out, 0); le16(out, 1); le16(out, entries.size)
    var off = 6L + entries.size * 16
    entries.foreach { case (w, h, bits, data) =>
      out.write(if (w == 256) 0 else w)
      out.write(if (h == 256) 0 else h)
      out.write(0); out.write(0) // colorCount (0 = 256+), reserved
      le16(out, 1); le16(out, bits)
      le32(out, data.length.toLong)
      le32(out, off)
      off += data.length
    }
    entries.foreach { case (_, _, _, data) => out.write(data, 0, data.length) }
    out.toByteArray
  }
}
