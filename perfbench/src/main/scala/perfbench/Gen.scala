package perfbench

import scala.util.Random

/** Seeded input generator. Every workload's inputs come from here and
  * depend only on the run's seed, so the same seed gives the same
  * inputs; the engine sees only the generated rows and files.
  *
  * The shapes follow the repo's sf0.1 test tables (`part`/`documents`
  * for book text, `orders` for the mutated table, `events` for the
  * stream), synthesized rather than read so the benchmark needs nothing
  * outside its checkout. */
object Gen {

  private def syllables(r: Random, n: Int): String = {
    val on = Array("b", "c", "d", "f", "g", "l", "m", "n", "p", "r", "s", "t", "v", "br", "st", "tr")
    val nu = Array("a", "e", "i", "o", "u", "ai", "ou", "ea")
    (0 until n).map(_ => on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
  }

  /** Fixed corpus vocabulary (independent of the seed, so the seed
    * moves what is written, not the language it is written in). */
  val vocab: IndexedSeq[String] = {
    val r = new Random(7L)
    Iterator.continually(syllables(r, 2 + r.nextInt(2))).distinct.take(1500).toIndexedSeq
  }

  /** Words that never occur in the corpus — off-corpus questions. */
  val offVocab: IndexedSeq[String] = {
    val r = new Random(11L)
    val in = vocab.toSet
    Iterator.continually("x" + syllables(r, 3)).filterNot(in).distinct.take(300).toIndexedSeq
  }

  val categories: IndexedSeq[String] = IndexedSeq("Poetry", "History", "Travel",
    "Mystery", "Fiction", "Science", "Music", "Romance", "Humor", "Classics",
    "Philosophy", "Fantasy", "Horror", "Art", "Religion", "Business")

  /** A book as the crawler lands it: the raw JSON keys of the scraper. */
  final case class Book(num: Long, title: String, price: String,
      availability: String, description: String, category: String,
      reviews: Int) {
    def id: String = s"b$num"
    def url: String = s"https://books.example/catalogue/book_$num/index.html"
    /** The document the retrieval layer chunks (Retrieval.assembleDocument). */
    def document: String = s"Title: $title. Category: $category. Description: $description"
  }

  /** Book `num`: a pure function of (seed, num). */
  def book(seed: Long, num: Long): Book = {
    val r = new Random(seed * 1000003L + num)
    def words(n: Int) = (0 until n).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
    val title = words(2 + r.nextInt(4))
    // descriptions of multi-hundred characters: 50-130 words
    val description = words(50 + r.nextInt(80)) + "."
    val pence = 1000 + r.nextInt(5000)
    val stock = r.nextInt(25)
    Book(num, title, f"£${pence / 100}%d.${pence % 100}%02d",
      if (stock == 0) "Out of stock" else s"In stock ($stock available)",
      description, categories(r.nextInt(categories.size)), r.nextInt(50))
  }

  def bookJson(b: Book, scrapedAt: String): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Seq("title_xpath" -> q(b.title), "price_xpath" -> q(b.price),
      "availability_xpaths" -> q(b.availability),
      "description_xpaths" -> q(b.description),
      "category_xpath" -> q(b.category), "review_count_xpath" -> q(b.reviews.toString),
      "book_url" -> q(b.url), "id" -> q(b.id), "scraped_at" -> q(scrapedAt))
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }

  /** A question about `doc`: a seeded paraphrase that keeps most of a
    * window of its words in a shuffled order. */
  def paraphrase(r: Random, doc: String): String = {
    val ws = doc.split("\\W+").filter(_.nonEmpty)
    val start = if (ws.length > 12) r.nextInt(ws.length - 12) else 0
    val window = ws.slice(start, start + 12).filter(_ => r.nextDouble() < 0.8)
    "what about " + r.shuffle(window.toSeq).mkString(" ")
  }

  def offCorpusQuestion(r: Random): String =
    "tell me about " + (0 until 8).map(_ => offVocab(r.nextInt(offVocab.size))).mkString(" ")

  /** Orders-shaped row; prices are multiples of 0.25 so every sum the
    * checks take is exact in binary floating point. */
  final case class Order(key: Long, cust: Long, status: String, price: Double,
      priority: String)

  val statuses: IndexedSeq[String] = IndexedSeq("F", "O", "P")
  val priorities: IndexedSeq[String] = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def order(r: Random, key: Long): Order =
    Order(key, 1 + r.nextInt(15000), statuses(r.nextInt(3)),
      (400 + r.nextInt(400000)) * 0.25, priorities(r.nextInt(5)))

  val eventTypes: IndexedSeq[String] = IndexedSeq("click", "error", "purchase", "signup", "view")
}
