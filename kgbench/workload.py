"""Seeded input generators for the KG-job benchmark.

The generators live here, not in ``vnlp_spark.plans.corpus``, so that an
edit to the library's synthetic corpus cannot change a workload.  They run
in the benchmark process (plain Python, no Spark) and write the documents
table ``(url, warc_ts, html, text, lang)`` to parquet during set-up.

Two corpora:

- ``pooled``: a copy of ``generate_web_pages``'s boilerplate-heavy crawl:
  30 Turkish sentences with a Zipf-skewed head (half of all draws land on
  the first six), 10% English pages, 1 to 12 sentences per page.
- ``gold``: every sentence is a unique record marker plus a sentence drawn
  from the 1,697 distinct gold texts frozen in ``gold_texts.txt``.  The
  sentence draw depends on the run seed; the marker numbers depend on the
  run seed and the pass, so every pass is new text to the annotator's
  sentence caches while the expected outputs stay the same up to the
  marker digits.

The seed selects one of ``N_VARIANTS`` sentence draws (``seed %
N_VARIANTS``) so that each draw has a recorded output digest
(``digests.json``); everything else about the input is a function of the
full seed.
"""
from __future__ import annotations

import os
import random
from dataclasses import dataclass

N_VARIANTS = 32
MAX_SENTS_PER_DOC = 12
TURKISH_PERCENT = 90

_HERE = os.path.dirname(os.path.abspath(__file__))

POOL_TR = [
    "Üniversite sınavlarına canla başla çalışıyorlardı.",
    "Şimdi baştan başla.",
    "Benim adım Melikşah, 29 yaşındayım, İstanbul'da ikamet ediyorum ve VNGRS AI Takımı'nda çalışıyorum.",
    "Oğuz'un kırmızı bir Astra'sı vardı.",
    "Onun için yol arkadaşlarımızı titizlikle seçer, kendilerini iyice sınarız.",
    "Ahmet dün İstanbul'da yeni bir mağaza açtı.",
    "Mehmet geçen yıl Ankara'da üniversiteyi bitirdi.",
    "Ayşe sabah Türkiye'nin en büyük köprüsünü gördü.",
    "Fatma akşam İstanbul'dan Ankara'ya gitti.",
    "Mustafa Galatasaray maçını arkadaşlarıyla izledi.",
    "Zeynep Fenerbahçe kulübüne üye oldu.",
    "Ali TÜBİTAK projesini başarıyla tamamladı.",
    "Hasan İzmir'de denize girdi.",
    "Elif Boğaziçi Üniversitesi'nde ders veriyor.",
    "Murat Türkiye İş Bankası'nda çalışıyor.",
    "Emre İstanbul Belediyesi'nin yeni parkını gezdi.",
    "Selin Ankara'daki müzeyi çok beğendi.",
    "Kaan Trabzon'dan taze balık getirdi.",
    "Merve Avrupa turuna İstanbul'dan başladı.",
    "Osman Türkiye'nin güneyinde tatil yaptı.",
    "Deniz TRT belgeselini büyük bir keyifle izledi.",
    "Ceren İstanbul Boğazı'nda tekne turuna katıldı.",
    "Burak Almanya'dan Türkiye'ye kesin dönüş yaptı.",
    "Pınar Kadıköy'de küçük bir kafe işletiyor.",
    "Arda Beşiktaş'tan Üsküdar'a vapurla geçti.",
    "Yusuf akşam yemeğini ailesiyle yedi.",
    "Kitapları okumak insanı zenginleştirir.",
    "Hava bugün çok güzel ve güneşli.",
    "Yeni teknoloji ürünleri hızla yayılıyor.",
    "Ekonomi haberleri gündemi belirliyor.",
]
POOL_EN = [
    "The quick brown fox jumps over the lazy dog.",
    "Markets rallied after the announcement on Tuesday.",
    "Researchers published new findings about language models.",
]


def gold_texts() -> list[str]:
    with open(os.path.join(_HERE, "gold_texts.txt"), encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f if line.strip()]


@dataclass
class Corpus:
    """One generated documents table, kept in memory until written."""

    rows: list  # (url, warc_ts_seconds, html_or_None, text, lang)
    n_tr_sentences: int  # Turkish sentences composed, the expected row count

    def tr_texts(self, limit_docs: int) -> list[str]:
        """The Turkish documents' texts of the first ``limit_docs`` pages."""
        return [r[3] for r in self.rows[:limit_docs] if r[4] == "tr"]

    def write_parquet(self, out_dir: str, n_files: int) -> str:
        """Write the table as ``n_files`` parquet files of equal row counts."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(out_dir, exist_ok=True)
        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        )
        per_file = -(-len(self.rows) // n_files)
        for i in range(n_files):
            chunk = self.rows[i * per_file:(i + 1) * per_file]
            if not chunk:
                break
            cols = list(zip(*chunk))
            table = pa.table(
                [
                    pa.array(cols[0], pa.string()),
                    pa.array([s * 1_000_000 for s in cols[1]], pa.timestamp("us", tz="UTC")),
                    pa.array(cols[2], pa.binary()),
                    pa.array(cols[3], pa.string()),
                    pa.array(cols[4], pa.string()),
                ],
                schema=schema,
            )
            pq.write_table(table, os.path.join(out_dir, f"part-{i:05d}.parquet"))
        return out_dir


def _pages(rng: random.Random, n_tr_sentences: int):
    """Page frames until the Turkish pages hold exactly ``n_tr_sentences``
    sentences (the last Turkish page is cut short): url, Turkish?, sentence
    count, timestamp and html flag."""
    left, i = n_tr_sentences, 0
    while left > 0:
        is_tr = rng.randrange(100) < TURKISH_PERCENT
        n_sents = rng.randrange(MAX_SENTS_PER_DOC) + 1
        ts = 1_700_000_000 + rng.randrange(86400 * 180)
        has_html = rng.randrange(10) < 3
        if is_tr:
            n_sents = min(n_sents, left)
            left -= n_sents
        yield f"https://tr.example.com/page/{i}", is_tr, n_sents, ts, has_html
        i += 1


def _row(url, is_tr, ts, has_html, sentences):
    text = " ".join(sentences)
    return (url, ts, text.encode("utf-8") if has_html else None, text,
            "tr" if is_tr else "en")


def pooled_corpus(n_tr_sentences: int, seed: int) -> Corpus:
    """The crawl corpus: Zipf-skewed draws from the 30-sentence pool."""
    rng = random.Random(seed % N_VARIANTS)
    rows = []
    for url, is_tr, n_sents, ts, has_html in _pages(rng, n_tr_sentences):
        sents = []
        for _ in range(n_sents):
            u = rng.randrange(1000)
            if not is_tr:
                sents.append(POOL_EN[u % len(POOL_EN)])
            elif u < 500:
                sents.append(POOL_TR[u % 6])
            else:
                sents.append(POOL_TR[u % len(POOL_TR)])
        rows.append(_row(url, is_tr, ts, has_html, sents))
    return Corpus(rows, n_tr_sentences)


def gold_corpus(n_tr_sentences: int, seed: int, pass_no: int | str, texts: list[str]) -> Corpus:
    """The unique-text corpus: marker + gold sentence, fresh markers per
    ``(seed, pass_no)``; the gold draw depends only on ``seed``."""
    rng = random.Random(seed % N_VARIANTS)
    markers = random.Random(f"kgbench-marker:{seed}:{pass_no}")
    rows = []
    for url, is_tr, n_sents, ts, has_html in _pages(rng, n_tr_sentences):
        sents = []
        for _ in range(n_sents):
            u = rng.randrange(1 << 30)
            if is_tr:
                marker = markers.randrange(1, 1_000_000_000)
                sents.append(f"Kayıt {marker} uyarınca {texts[u % len(texts)]}")
            else:
                sents.append(POOL_EN[u % len(POOL_EN)])
        rows.append(_row(url, is_tr, ts, has_html, sents))
    return Corpus(rows, n_tr_sentences)
