"""Seeded input generator for the `gates_small` workload.

`fixture(seed, out_dir)` writes the table the hygienic-pipeline gate reads,
`documents.parquet`, in the layout and at the row count of the sf0.1
fixture (TESTDATA.md): 5,000 documents (doc_id, text, lang, source,
n_chars) with planted structure: exact duplicates, near duplicates, a
boilerplate banner, Zipf-skewed sources, three languages and a
target-topic slice.

The NOTE table is generated on the JVM side (perfbench/scala/NoteGen.scala)
because it is loaded into an embedded Derby database through JDBC.

Same seed and size give byte-identical tables.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = {
    "en": ("key agg row scan slow fast table value part hash merge batch spark a the "
           "line sort window data column join small customer query big stream order "
           "group filter vector index page cache shard").split(),
    "es": ("el la de que y en un ser se no haber por con su para como estar tener le lo "
           "todo pero mas hacer o poder decir este ir otro ese dato tabla fila").split(),
    "de": ("der die und in den von zu das mit sich des auf fur ist im dem nicht ein eine "
           "als auch es an werden aus er hat dass sie nach wird bei daten zeile").split(),
}
TARGET_WORDS = ("theorem proof lemma integral matrix eigen prime graph bound limit "
                "series field group ring module kernel").split()
BANNER = "subscribe to our newsletter for weekly updates and offers"
LANGS = ("en", "es", "de")
LANG_WEIGHTS = (0.6, 0.25, 0.15)
DOCS = 5000
N_SOURCES = 24
SOURCE_WEIGHTS = [1.0 / (k + 1) for k in range(N_SOURCES)]  # Zipf, s = 1


def _doc_rng(seed, i):
    return random.Random(seed * 1_000_003 + i)


def _base(seed, i):
    """(text, lang, source) of document i before duplicate planting."""
    r = _doc_rng(seed, i)
    lang = r.choices(LANGS, LANG_WEIGHTS)[0]
    source = "src%d" % r.choices(range(N_SOURCES), SOURCE_WEIGHTS)[0]
    vocab = WORDS[lang]
    if r.random() < 0.10:  # target-topic slice
        vocab = vocab + TARGET_WORDS * 3
    words = [r.choice(vocab) for _ in range(r.randint(8, 90))]
    text = " ".join(words)
    if r.random() < 0.10:
        text = BANNER + " " + text
    return text, lang, source, r


def _doc(seed, i):
    text, lang, source, r = _base(seed, i)
    u = r.random()
    if i > 0 and u < 0.05:  # exact duplicate of an earlier document
        text = _base(seed, r.randrange(i))[0]
    elif i > 0 and u < 0.10:  # near duplicate: one word changed
        words = _base(seed, r.randrange(i))[0].split(" ")
        words[r.randrange(len(words))] = r.choice(WORDS[lang])
        text = " ".join(words)
    return text, lang, source


def documents_table(seed, n_docs):
    ids, texts, langs, sources, n_chars = [], [], [], [], []
    for i in range(n_docs):
        text, lang, source = _doc(seed, i)
        ids.append(i)
        texts.append(text)
        langs.append(lang)
        sources.append(source)
        n_chars.append(len(text))
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(n_chars, pa.int64()),
    })


def fixture(seed, out_dir, n_docs=DOCS):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents_table(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
