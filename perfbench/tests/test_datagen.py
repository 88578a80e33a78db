"""Corpus generator determinism and an independent recount."""
import hashlib
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import duckdb  # noqa: E402

import datagen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# the wordcount oracle's tokenizer and cleaner, as the engine's oracle
# SQL spells them for DuckDB
RECOUNT = r"""
SELECT lower(regexp_extract(tok, '^[A-Za-z\[\\\]^_`'']*', 0)) AS word,
       count(*) AS cnt
FROM (SELECT unnest(string_split_regex(content, '[\t\n\x0B\f\r ]+')) AS tok
      FROM read_text('{dir}/*.txt'))
WHERE length(regexp_extract(tok, '^[A-Za-z\[\\\]^_`'']*', 0)) > 0
GROUP BY word
"""


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ta = datagen.corpus(5, a, files=3, tokens_per_file=2000, vocab=500)
            tb = datagen.corpus(5, b, files=3, tokens_per_file=2000, vocab=500)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(ta, tb)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            datagen.corpus(5, a, files=2, tokens_per_file=1000, vocab=500)
            datagen.corpus(6, b, files=2, tokens_per_file=1000, vocab=500)
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_tally_matches_duckdb_recount(self):
        with tempfile.TemporaryDirectory() as d:
            tally = datagen.corpus(9, d, files=4, tokens_per_file=3000, vocab=800)
            rows = duckdb.sql(RECOUNT.format(dir=d)).fetchall()
            self.assertEqual(dict(rows), tally)

    def test_corpus_has_the_cleaner_edge_cases(self):
        with tempfile.TemporaryDirectory() as d:
            tally = datagen.corpus(1, d, files=2, tokens_per_file=5000, vocab=2000)
            text = "".join(Path(d, f).read_text() for f in os.listdir(d))
            self.assertTrue(any(c in text for c in ",.;!?"))    # trailing punctuation
            self.assertIn("42nd", text)                        # digit-leading, dropped
            self.assertTrue(any(w != w.lower() for w in text.split()))  # mixed case
            self.assertTrue(any("'" in w for w in tally))      # apostrophes kept
            self.assertTrue(any(c in w for w in tally for c in "[\\]^_`"))  # 91-96 kept
            self.assertTrue(all(w == w.lower() for w in tally))


if __name__ == "__main__":
    unittest.main()
