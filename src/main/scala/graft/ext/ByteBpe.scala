package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BYTE-LEVEL BPE (the GPT-2 tokenizer shape; Radford et al. 2019) —
  * the production variant of [[Bpe]]: the base alphabet is the 256
  * BYTES of the word's UTF-8 encoding, so every string is encodable
  * and UNK is impossible BY CONSTRUCTION (char-level BPE would need a
  * fallback for any character outside the training alphabet; here a
  * never-seen character still decomposes into known byte symbols).
  *
  * Bytes ride as PRINTABLE characters via the GPT-2 `bytes_to_unicode`
  * remap — the published bijection that keeps the 188 visually-safe
  * Latin-1 bytes as themselves and shifts the other 68 (controls,
  * space, DEL, 0xA0, 0xAD) to U+0100+n — so the space-separated symbol
  * machinery, the two-pass `replace` merge application, and its
  * non-overlap proof carry over from [[Bpe]] UNCHANGED
  * ([[Bpe.trainFromVocab]] / [[Bpe.applyMerges]] are shared; the two
  * tokenizers differ ONLY in how a word becomes base symbols). A
  * multi-byte character's bytes are adjacent symbols, so merges learn
  * it back when it is frequent — and can merge ACROSS character
  * boundaries, which char-level BPE cannot express at all.
  *
  * Scale shape is [[Bpe]]'s: the corpus contributes one tokenize +
  * word-count pass; the byte remap runs as a UDF on the DISTINCT-WORD
  * relation (vocab-sized, never per corpus token).
  */
object ByteBpe {

  /** GPT-2 bytes_to_unicode: bytes 33–126, 161–172, 174–255 map to
    * their own code points; the remaining 68 map to 256, 257, … in
    * byte order. A bijection — [[charToByte]] inverts it exactly.
    */
  val byteToChar: Array[Char] = {
    val arr = new Array[Char](256)
    var n = 0
    (0 until 256).foreach { b =>
      if ((b >= 33 && b <= 126) || (b >= 161 && b <= 172) || b >= 174)
        arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
    }
    arr
  }

  val charToByte: Map[Char, Int] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** A word's UTF-8 bytes as the remapped printable string — the base
    * symbol sequence (one char = one byte).
    */
  def remap(word: String): String = {
    val bytes = word.getBytes("UTF-8")
    val out = new Array[Char](bytes.length)
    var i = 0
    while (i < bytes.length) { out(i) = byteToChar(bytes(i) & 0xff); i += 1 }
    new String(out)
  }

  /** Invert [[remap]] — decode a (possibly merged) symbol back to the
    * original string. Total on any string of remapped chars.
    */
  def unremap(sym: String): String = {
    val bytes = sym.map(c => charToByte(c).toByte).toArray
    new String(bytes, "UTF-8")
  }

  /** A word's byte-level base symbols: " b y t e s " over the remap. */
  private val byteSymbols = udf((w: String) =>
    " " + remap(w).map(_.toString).mkString(" ") + " ")

  /** One corpus pass: distinct words with frequencies, symbols
    * initialized to remapped BYTES. Output (sym, f) — the shape
    * [[Bpe.trainFromVocab]] consumes.
    */
  def initialVocab(docs: DataFrame, textCol: String): DataFrame =
    Bpe.wordCounts(docs, textCol)
      .select(byteSymbols(col("w")).as("sym"), col("f"))

  /** Learn the top `k` byte-level merges: (rank, s1, s2, merged, cnt)
    * in merge order.
    */
  def train(docs: DataFrame, textCol: String, k: Int): DataFrame =
    Bpe.trainFromVocab(initialVocab(docs, textCol), k)

  /** Per-document byte-BPE token counts under a learned merge list —
    * [[Bpe.tokenCounts]] with the byte-symbol initialization.
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    Bpe.mergeTokenCounts(docs, idCol, textCol, byteSymbols(_), merges)
}
