package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** fastText-style language identification: a character n-gram hash model
  * scored per document. Reimagines the reference's string-similarity
  * clustering (`/root/reference/src/utils.py:271-341`) — "which cluster of
  * known strings does this string look like" — as "which language profile
  * does this document's n-gram distribution look like".
  *
  * The model is built deterministically from a seed corpus embedded in
  * this file (public-knowledge common words/sentences per language), so
  * every JVM — driver or any executor on a 1000-node cluster — derives an
  * IDENTICAL model locally at class-init time. No broadcast, no side
  * files, no model-serialization skew: the scoring expression is pure and
  * stateless from Catalyst's point of view.
  */
object LangIdModel {

  /** Seed corpus per language: common function words, frequent verbs and
    * everyday nouns (public common-word knowledge, ASCII-folded to match
    * [[TextNorm]]'s conventions — e.g. de "ueber", pl "byc"). Round 3
    * broadened the model from 5 fixture-sized lists to 9 languages ×
    * ~120–150 words (VERDICT r2 Next #9); the fixture generator keeps
    * drawing from the first five, so pt/nl/sv/pl act as CONFUSERS the
    * scorer must out-margin (es↔pt and de↔nl are the close pairs — see
    * LangIdSpec's held-out-sentence accuracy tests).
    */
  val SeedCorpus: Map[String, String] = Map(
    "en" -> ("the quick brown fox jumps over the lazy dog and this is a test of " +
      "the english language with many common words that the people have been " +
      "there would could should which their about other after first these from " +
      "they will what when where your more some time very just know good " +
      "people years way day man thing woman life child world school state " +
      "family student group country problem hand part place case week company " +
      "system program question work government number night point home water " +
      "room mother area money story fact month right study book eye job word " +
      "business issue side kind head house service friend father power hour " +
      "game line end member law car city community name team minute idea body " +
      "information back parent face level office door health person art war " +
      "history party result change morning reason research moment air teacher " +
      "force education because before under between through during against"),
    "fr" -> ("le renard brun rapide saute par dessus le chien paresseux et ceci est " +
      "un essai de la langue francaise avec beaucoup de mots courants que les " +
      "gens ont ete la bas pour que cette dans les nous vous ils elles sont " +
      "avec pas plus tout mais leur bien deux fait sans peut sous votre " +
      "etre avoir faire dire pouvoir aller voir savoir vouloir venir devoir " +
      "croire trouver donner prendre parler aimer passer mettre demander tenir " +
      "sembler laisser rester penser entendre regarder repondre rendre " +
      "connaitre arriver sentir attendre vivre chercher sortir comprendre " +
      "porter devenir entrer revenir ecrire appeler tomber suivre commencer " +
      "monter partir jeter annee jour monde maison femme homme enfant temps " +
      "vie main chose eau mere pere soir nuit coeur ville rue terre pays " +
      "moment histoire question travail mot corps voix table livre amour " +
      "exemple heure fois personne raison effet cas fin point toujours jamais " +
      "maintenant apres avant ici ou quand comment pourquoi"),
    "de" -> ("der schnelle braune fuchs springt ueber den faulen hund und dies ist " +
      "ein test der deutschen sprache mit vielen gebraeuchlichen woertern die " +
      "die leute haben dort wuerde koennte sollte welche ihre ueber andere nach " +
      "nicht sich auch auf werden einer durch beim noch nur vom zum " +
      "sein haben koennen muessen sagen machen geben kommen sollen wollen " +
      "gehen wissen sehen lassen stehen finden bleiben liegen heissen denken " +
      "nehmen tun duerfen glauben halten nennen moegen zeigen fuehren sprechen " +
      "bringen leben fahren meinen fragen kennen gelten stellen spielen " +
      "arbeiten brauchen folgen lernen bestehen verstehen setzen bekommen " +
      "beginnen erzaehlen versuchen schreiben laufen erklaeren sitzen ziehen " +
      "scheinen fallen gehoeren entstehen erhalten treffen suchen legen " +
      "erreichen tragen schaffen lesen jahr mann frau kind tag zeit welt haus " +
      "hand stadt wasser mutter vater abend nacht herz strasse land " +
      "augenblick geschichte frage arbeit wort koerper stimme tisch buch " +
      "liebe beispiel stunde mal person grund fall ende punkt immer nie jetzt " +
      "spaeter vorher hier wo wann wie warum"),
    "es" -> ("el rapido zorro marron salta sobre el perro perezoso y esto es una " +
      "prueba de la lengua espanola con muchas palabras comunes que la gente " +
      "ha estado alli seria podria deberia cual sus sobre otros despues desde " +
      "ellos para cuando donde mas algunos tiempo muy solo pero tambien como " +
      "ser haber estar tener hacer poder decir ir ver dar saber querer llegar " +
      "pasar deber poner parecer quedar creer hablar llevar dejar seguir " +
      "encontrar llamar venir pensar salir volver tomar conocer vivir sentir " +
      "tratar mirar contar empezar esperar buscar existir entrar trabajar " +
      "escribir perder producir ocurrir entender pedir recibir recordar " +
      "terminar permitir aparecer conseguir comenzar servir sacar necesitar " +
      "mantener resultar leer caer cambiar presentar crear abrir considerar " +
      "acabar ganar formar traer morir aceptar anos dia mundo casa mujer " +
      "hombre ninos vida mano cosa agua madre padre tarde noche corazon " +
      "ciudad calle tierra pais momento historia pregunta trabajo palabra " +
      "cuerpo voz mesa libro amor ejemplo hora vez persona razon efecto caso " +
      "fin punto siempre nunca ahora luego antes aqui"),
    "it" -> ("la rapida volpe marrone salta sopra il cane pigro e questa e una " +
      "prova della lingua italiana con molte parole comuni che la gente ha " +
      "stato li sarebbe potrebbe dovrebbe quale loro circa altri dopo prima " +
      "questi sono stati anche nella degli delle gli una per non che piu " +
      "essere avere fare dire potere andare vedere sapere volere venire " +
      "dovere credere trovare dare parlare amare passare mettere chiedere " +
      "tenere sembrare lasciare restare pensare sentire guardare rispondere " +
      "rendere conoscere arrivare aspettare vivere cercare uscire capire " +
      "portare diventare entrare tornare scrivere chiamare cadere seguire " +
      "cominciare salire morire partire anno giorno mondo casa donna uomo " +
      "bambino tempo vita mano cosa acqua madre padre sera notte cuore citta " +
      "strada terra paese momento storia domanda lavoro parola corpo voce " +
      "tavolo libro amore esempio ora volta persona ragione effetto caso fine " +
      "punto sempre mai adesso poi qui dove quando come perche"),
    "pt" -> ("ser ter estar fazer poder dizer ir ver dar saber querer chegar " +
      "passar dever ficar parecer falar levar deixar seguir encontrar chamar " +
      "vir pensar sair voltar tomar conhecer viver sentir olhar contar " +
      "comecar esperar procurar existir entrar trabalhar escrever perder " +
      "entender pedir receber lembrar terminar permitir aparecer conseguir " +
      "servir precisar manter ler cair mudar apresentar criar abrir " +
      "considerar ouvir acabar ganhar formar trazer morrer aceitar ano dia " +
      "mundo casa mulher homem crianca tempo vida mao coisa agua mae pai " +
      "tarde noite coracao cidade rua terra pais gente momento historia " +
      "pergunta trabalho palavra corpo voz mesa livro amor exemplo hora vez " +
      "pessoa razao efeito caso fim ponto os um uma do da em no na por com " +
      "nao se eu ele ela nos eles voce isso isto muito mais menos bem sempre " +
      "nunca agora depois antes aqui ali onde quando porque"),
    "nl" -> ("zijn hebben worden kunnen moeten zeggen maken geven komen zullen " +
      "willen gaan weten zien laten staan vinden blijven liggen heten denken " +
      "nemen doen mogen geloven houden noemen tonen leiden spreken brengen " +
      "leven rijden vragen kennen gelden stellen spelen werken volgen leren " +
      "begrijpen zetten krijgen beginnen vertellen proberen schrijven lopen " +
      "verklaren zitten trekken schijnen vallen horen ontstaan treffen zoeken " +
      "leggen bereiken dragen lezen jaar man vrouw kind dag tijd wereld huis " +
      "hand stad water moeder vader avond nacht hart straat land mensen " +
      "ogenblik geschiedenis vraag werk woord lichaam stem tafel boek liefde " +
      "voorbeeld uur keer persoon reden gevolg geval einde punt de het een " +
      "van in op met voor niet dat die dit deze aan bij uit over onder " +
      "tussen door naar als dan ook nog wel geen veel meer minder goed " +
      "altijd nooit nu later eerder hier daar waar wanneer hoe waarom"),
    "sv" -> ("vara bli kunna skola saga gora komma vilja veta lata finna " +
      "stanna ligga heta tanka tro halla namna visa leda tala leva aka " +
      "fraga kanna galla stalla spela arbeta behova folja lara forsta satta " +
      "borja beratta forsoka skriva springa forklara sitta dra verka falla " +
      "hora uppsta traffa soka lagga bara skapa lasa man kvinna barn dag tid " +
      "liv varld hus hand stad vatten mor far kvall natt hjarta gata land " +
      "folk ogonblick historia arbete ord kropp rost bord bok karlek exempel " +
      "timme gang person skal verkan fall slut punkt och att det en som pa " +
      "av och den till inte om men han hon vi de ni jag du har dar nar hur " +
      "varfor alltid aldrig nu sedan innan mycket mer mindre bra ganska " +
      "redan kanske mellan genom under efter fore utan inom"),
    "pl" -> ("byc miec zostac moc musiec powiedziec robic dawac przyjsc chciec " +
      "isc wiedziec widziec pozwolic stac znalezc lezec nazywac myslec brac " +
      "zrobic dostac wierzyc trzymac nazwac pokazac prowadzic mowic " +
      "przyniesc zyc jechac pytac znac stawiac grac pracowac potrzebowac " +
      "nastepowac uczyc rozumiec dostawac zaczynac opowiadac probowac pisac " +
      "biegac wyjasniac siedziec ciagnac wydawac padac slyszec powstawac " +
      "spotykac szukac kladc osiagac nosic tworzyc czytac rok czlowiek " +
      "kobieta dziecko dzien czas zycie swiat dom reka miasto woda matka " +
      "ojciec wieczor noc serce ulica kraj ludzie chwila historia pytanie " +
      "praca slowo cialo glos stol ksiazka milosc przyklad godzina raz osoba " +
      "powod skutek przypadek koniec punkt w na z do nie to sie jest sa byl " +
      "byla ale jak co kto gdzie kiedy dlaczego zawsze nigdy teraz potem " +
      "przedtem bardzo wiecej mniej dobrze zle juz tylko przez oraz")
  )

  val NGram = 3
  val Alpha = 0.5 // add-alpha smoothing

  final case class Model(langs: Array[String],
                         // per lang: trigram -> log prob
                         logProb: Array[java.util.HashMap[String, java.lang.Double]],
                         defaultLogProb: Array[Double])

  private[graft] def trigrams(s: String): Iterator[String] = {
    val n = TextNorm.norm(s)
    if (n.length < NGram) Iterator.empty
    else (0 to n.length - NGram).iterator.map(i => n.substring(i, i + NGram))
  }

  lazy val model: Model = buildModel(SeedCorpus.toSeq)

  private def buildModel(corpus: Seq[(String, String)]): Model = {
    val byLang: Map[String, String] = corpus.sorted.groupBy(_._1)
      .map { case (l, ps) => l -> ps.map(_._2).mkString(" ") }
    val langs = byLang.keys.toArray.sorted
    val vocab = scala.collection.mutable.HashSet[String]()
    val counts = langs.map { l =>
      val m = scala.collection.mutable.HashMap[String, Int]()
      trigrams(byLang(l)).foreach { g =>
        vocab += g; m.update(g, m.getOrElse(g, 0) + 1)
      }
      m
    }
    val v = vocab.size.toDouble
    // Per-language log-probs are float32 BY DEFINITION of the model (then
    // summed in double): the fused kernel table packs two lang scores per
    // 8 bytes (48 B/row instead of 80 — the dominant kernel cost is this
    // table's cache footprint, BENCH.md), and quantizing at the SOURCE
    // keeps every path — String-keyed reference, LongDoubleMap tables,
    // packed fused table — summing bit-identical values (a float widened
    // to double is exact), so the cross-validation specs stay exact
    // equality. Scores shift by ~1e-7 relative; per-language margins are
    // O(0.1) (LangIdSpec floors).
    val lp = langs.indices.map { i =>
      val tot = counts(i).values.sum + Alpha * v
      val hm = new java.util.HashMap[String, java.lang.Double]()
      counts(i).foreach { case (g, c) =>
        hm.put(g, math.log((c + Alpha) / tot).toFloat.toDouble)
      }
      hm
    }.toArray
    val dflt = langs.indices.map { i =>
      val tot = counts(i).values.sum + Alpha * v
      math.log(Alpha / tot).toFloat.toDouble
    }.toArray
    Model(langs, lp, dflt)
  }
}

private[functions] object TextNorm {
  /** Lowercase, collapse whitespace — must match TextFns.normText.
    * Locale.ROOT: a Turkish-locale JVM must not derive a different
    * langid/perplexity model ("identical model on every JVM").
    */
  def norm(s: String): String =
    s.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")
}

object LangId {
  /** SQL-portable marker-token language scorer (used by oracle-checked
    * queries): counts per-language marker-word hits among tokens and
    * returns the argmax. Weaker than the n-gram model but expressible
    * identically in ANSI-ish SQL.
    */
  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "that", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des", "dans"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "mit"),
    "es" -> Seq("el", "los", "que", "las", "para", "como"),
    "it" -> Seq("il", "che", "di", "per", "non", "una"),
    "pt" -> Seq("uma", "nao", "dos", "mas", "isso", "voce"),
    "nl" -> Seq("het", "een", "van", "niet", "aan", "voor"),
    "sv" -> Seq("och", "att", "som", "inte", "har", "den"),
    "pl" -> Seq("nie", "sie", "jest", "przez", "tylko", "oraz")
  )

  /** Fused marker scorer (the hot path): one pass over the text, token
    * FNV lookups against the sorted marker-hash table. The composed
    * Column version (`ComposedRefs.markerLangComposed`, test scope)
    * interprets 4 HOF lambdas per token (measured 5.4 s vs <0.5 s at
    * sf0.1); LangIdSpec asserts the two paths are equal on every
    * fixture doc.
    */
  def markerLang(c: Column): Column =
    GraftExpr.column(MarkerLangExpr(GraftExpr.expr(c)))
}

/** `marker_lang(text)` → string: fused equivalent of
  * `ComposedRefs.markerLangComposed` (test scope). Tokens are
  * whitespace-split (Java `\s`, matching TextFns.tokens), lowercased per char (markers are ASCII), and
  * matched by FNV-1a against the marker table; ties break to the
  * lexicographically smaller language; zero hits → "und".
  */
case class MarkerLangExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  import MarkerLangExpr._

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val hits = new Array[Int](LangsAsc.length)
    val n = s.length
    var i = 0
    var ts = -1
    var poisoned = false
    var h = 0xcbf29ce484222325L
    while (i <= n) {
      val ws = i == n || isWs(s.charAt(i))
      if (ws) {
        if (ts >= 0) {
          if (!poisoned) {
            // walk the full equal-hash run: the same marker word may
            // appear in SEVERAL languages' sets (each must get its hit,
            // matching the composed per-language array_contains counts) —
            // binarySearch alone lands on an arbitrary member of the run
            val idx = java.util.Arrays.binarySearch(SortedHashes, h)
            if (idx >= 0) {
              var lo = idx
              while (lo > 0 && SortedHashes(lo - 1) == h) lo -= 1
              while (lo < SortedHashes.length && SortedHashes(lo) == h) {
                hits(HashLang(lo)) += 1
                lo += 1
              }
            }
          }
          ts = -1
          poisoned = false
          h = 0xcbf29ce484222325L
        }
      } else {
        if (ts < 0) ts = i
        val c = s.charAt(i)
        // the composed reference lowercases the WHOLE token via lower(),
        // whose 1-to-N special cases (e.g. U+0130 'İ' → "i̇") a per-char
        // Character.toLowerCase cannot reproduce ("İS" would hash to "is"
        // and score a marker hit the oracle never sees). Markers are all
        // pure-ASCII and contain no 'k' (the lone non-ASCII→ASCII
        // lowercase mapping is U+212A Kelvin → k), so a token containing
        // ANY non-ASCII char can never equal a lower()ed marker: poison
        // it instead of guessing at its lowercase form.
        if (c >= 0x80) poisoned = true
        else { h ^= (c | 0x20); h *= 0x100000001b3L }
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < hits.length) {
      if (hits(l) > hits(best)) best = l // ties keep the earlier lang
      l += 1
    }
    if (hits(best) > 0) LangsU8(best) else Und
  }

  override protected def withNewChildInternal(newChild: Expression): MarkerLangExpr =
    copy(child = newChild)
}

object MarkerLangExpr {
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private val LangsAsc: Array[String] = LangId.Markers.keys.toArray.sorted
  private val LangsU8: Array[UTF8String] = LangsAsc.map(UTF8String.fromString)
  private val Und: UTF8String = UTF8String.fromString("und")

  // sorted (marker FNV) with a parallel lang-index array for binary search
  private val (sortedHashes, hashLang) = {
    val pairs = LangsAsc.zipWithIndex.flatMap { case (l, li) =>
      LangId.Markers(l).map(w => (DocStats.fnv1a(w), li))
    }.sortBy(_._1)
    (pairs.map(_._1), pairs.map(_._2))
  }
  private val SortedHashes: Array[Long] = sortedHashes
  private val HashLang: Array[Int] = hashLang
}
