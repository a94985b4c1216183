package graft
package queries

import graft.functions.Text

/** DuckDB fragments shared across oracle twins of more than one domain
  * (kept identical to the Text.* expression semantics). */
private[queries] object OracleFragments {

  /** The Gopher keep chain (t→c→r→k) over a `(doc_id, text)` source
    * CTE/table — shared by the q120 composition twin and the q124
    * streaming-drain twin so both gate the SAME rule trees the engine
    * runs (`Corpus.gopherSignalsOf`). `k` = kept doc_ids with
    * n_words/mean_word_len. */
  def oracleGopherKeepCtes(src: String): String =
    s"""t as (select doc_id, text,
      |    $OracleTokens as w,
      |    string_split(text, chr(10)) as ln
      |  from $src),
      |c as (select doc_id,
      |    len(w) as n_words,
      |    list_sum(list_transform(w, x -> length(x))) as wchars,
      |    len(list_filter(w, x -> lower(x) != upper(x))) as alpha,
      |    len(list_filter(w, x -> lower(x) in
      |      ('the','be','to','of','and','that','have','with'))) as stop_hits,
      |    length(text) - length(replace(text, '#', '')) as nhash,
      |    (length(text) - length(replace(text, '...', ''))) // 3 as ellsym,
      |    len(ln) as nlines,
      |    len(list_filter(ln, l -> substr(ltrim(l), 1, 1) in ('-','*','•'))) as bull,
      |    len(list_filter(ln, l -> length(rtrim(l)) >= 3
      |      and substr(rtrim(l), length(rtrim(l)) - 2, 3) = '...')) as elll
      |  from t),
      |r as (select doc_id,
      |    cast(n_words as bigint) as n_words,
      |    case when n_words > 0
      |      then cast(wchars as double) / cast(n_words as double) end as mean_word_len,
      |    case when n_words > 0
      |      then cast(alpha as double) / cast(n_words as double) end as alpha_word_ratio,
      |    case when n_words > 0
      |      then cast(nhash + ellsym as double) / cast(n_words as double) end as symbol_ratio,
      |    cast(bull as double) / cast(nlines as double) as bullet_ratio,
      |    cast(elll as double) / cast(nlines as double) as ellipsis_ratio,
      |    cast(stop_hits as bigint) as stop_hits
      |  from c),
      |k as (select doc_id, n_words, mean_word_len from r
      |  where coalesce(n_words >= 50 and n_words <= 100000
      |    and mean_word_len >= 3.0 and mean_word_len <= 10.0
      |    and symbol_ratio <= 0.1 and bullet_ratio <= 0.9
      |    and ellipsis_ratio <= 0.3 and alpha_word_ratio >= 0.8
      |    and stop_hits >= 2, false))""".stripMargin

  val OracleNorm =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))"""

  val OracleTokens =
    """case when length(trim(text)) = 0 then [] else string_split_regex(trim(text), '\s+') end"""

  val OracleNTokens =
    s"""len($OracleTokens)"""

  val OracleStop =
    Text.EnglishStopwords.map(w => s"'$w'").mkString(",")
}
