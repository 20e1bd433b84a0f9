"""Custom PySpark DataSource: deterministic synthetic-corpus generator.

Spark 4's Python DataSource API (``pyspark.sql.datasource``) lets the
engine expose a first-class ``spark.read.format("corpusgen")`` source:
partition planning on the driver, row generation on executors — a real
distributed source, not a driver-side createDataFrame. Rows follow the
``documents`` table schema, so every corpus operator (dedup, prep,
textops) runs against it unchanged.

Why the engine wants one: scale experiments need corpora far larger
than any fixture on disk. A generated source materializes NOTHING — a
10⁹-doc corpus is 10⁹ iterator rows across however many partitions the
caller asks for, with perfectly even splits (no skew) and byte-for-byte
deterministic content from (seed, doc_id) alone, so two runs — or two
engines — see the same corpus without shipping it.

Options: ``n_docs`` (default 1000), ``n_partitions`` (default 8),
``seed`` (default "gen0"); streaming adds ``batch_docs`` / ``max_docs``.

Registration: ``spark.dataSource.register(CorpusGenDataSource)`` — see
tests/test_corpusgen.py.

Every class is defined inside a factory closure (the same discipline as
``netcdf3._build_netcdf3_codecs``): a module-level DataSource class pickles
by REFERENCE and dies with ModuleNotFoundError on any cluster whose
workers don't carry this package on PYTHONPATH — found the honest way
when the driver-contract drive ran ``streaming_pysource_agg`` from a
neutral cwd on a plain session. Closure-scoped classes cloudpickle by
VALUE, so the source is self-shipping.
"""

from __future__ import annotations


def _build_corpusgen_source():
    import hashlib

    from pyspark.sql.datasource import (
        DataSource, DataSourceReader, InputPartition,
        SimpleDataSourceStreamReader)

    vocab = (
        "key agg row scan slow fast table value part hash merge batch spark "
        "line sort window order data column join small customer query big "
        "stream group vector filter the a"
    ).split()

    langs = ("en", "es", "fr", "de", "zh")

    def _doc_row(seed: str, i: int) -> tuple:
        """One deterministic document row. Pure function of (seed, i):
        content reproduces on any executor, any engine, any run."""
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        n_tokens = 10 + h[0] % 90
        words = []
        # 4 md5 bytes per refill, one word per byte — cheap and stateless
        block = b""
        j = 0
        while len(words) < n_tokens:
            if not block:
                block = hashlib.md5(f"{seed}:{i}:{j}".encode()).digest()
                j += 1
            words.append(vocab[block[0] % len(vocab)])
            block = block[1:]
        text = " ".join(words)
        return (i, text, langs[h[1] % len(langs)], f"src{h[2] % 20}",
                len(text))

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int, seed: str):
            self.start, self.end, self.seed = start, end, seed

    class CorpusGenReader(DataSourceReader):
        def __init__(self, options: dict):
            self.n_docs = int(options.get("n_docs", 1000))
            self.n_partitions = max(1, int(options.get("n_partitions", 8)))
            self.seed = str(options.get("seed", "gen0"))
            if self.n_docs < 0:
                raise ValueError(f"n_docs must be >= 0, got {self.n_docs}")

        def partitions(self):
            n, p = self.n_docs, self.n_partitions
            step = -(-n // p) if n else 1
            return [_RangePartition(s, min(s + step, n), self.seed)
                    for s in range(0, max(n, 1), step) if s < n or n == 0]

        def read(self, partition: _RangePartition):
            for i in range(partition.start, partition.end):
                yield _doc_row(partition.seed, i)

    class CorpusGenStreamReader(SimpleDataSourceStreamReader):
        """Unbounded-feed twin of the batch reader: each micro-batch
        emits the next ``batch_docs`` documents of the same
        deterministic (seed, id) sequence, up to ``max_docs``. Offsets
        are plain doc-id cursors, so ``readBetweenOffsets`` replay
        (crash recovery) regenerates exactly the rows of the original
        batch — the generator IS its own write-ahead log. Lets the
        streaming prep/near-dup pipelines be fed without materializing
        parquet micro-batches.
        """

        def __init__(self, options: dict):
            self.batch = max(1, int(options.get("batch_docs", 100)))
            self.max_docs = int(options.get("max_docs", 1000))
            self.seed = str(options.get("seed", "gen0"))

        def initialOffset(self) -> dict:
            return {"i": 0}

        def read(self, start: dict):
            s = int(start["i"])
            e = min(s + self.batch, self.max_docs)
            if e <= s:
                return iter(()), {"i": s}
            return (iter([_doc_row(self.seed, i) for i in range(s, e)]),
                    {"i": e})

        def readBetweenOffsets(self, start: dict, end: dict):
            return iter([_doc_row(self.seed, i)
                         for i in range(int(start["i"]), int(end["i"]))])

    class CorpusGenDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "corpusgen"

        def schema(self) -> str:
            return ("doc_id bigint, text string, lang string, "
                    "source string, n_chars bigint")

        def reader(self, schema) -> CorpusGenReader:
            return CorpusGenReader(self.options)

        def simpleStreamReader(self, schema):
            return CorpusGenStreamReader(self.options)

    return (CorpusGenDataSource, CorpusGenReader, CorpusGenStreamReader,
            _doc_row)


(CorpusGenDataSource, CorpusGenReader, CorpusGenStreamReader,
 _doc_row) = _build_corpusgen_source()
