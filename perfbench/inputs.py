"""Seeded crawl inputs for the benchmark.

Documents come out in ``datagen.DOC_SCHEMA``'s shape and live at
``https://host{h}.example.com/doc/{n}``, so the scheduler's default corpus
fetcher (``/doc/<id>`` → ``doc_id``) resolves every scheduled URL. Unlike
``datagen`` every property the frontier's behaviour depends on is a knob:
host count and Zipf skew, links per doc, text spans per doc and the share of
links written in a messy (non-canonical) form. Everything is a pure function
of ``(shape, seed)``: the same seed gives byte-identical inputs, another seed
permutes hosts, link targets, messy variants and seeds.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class CrawlShape:
    n_docs: int
    n_hosts: int
    zipf_s: float  # host popularity ~ 1 / rank**zipf_s
    links_per_doc: int
    spans_per_doc: int  # text spans carrying the links (plus one title span)
    messy_share: float  # share of links written non-canonically
    n_seeds: int  # spread over hosts, one per host before any gets two


_WORDS = (
    "frontier crawl host politeness batch round seen bloom canonical link "
    "fetch queue priority delay commit snapshot"
).split()

_SPAN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOC_ARROW_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(_SPAN), False)]
)


def _messy(url_host: str, n: int, variant: int) -> str:
    """One non-canonical spelling of a link; each canonicalizes back to
    ``https://{url_host}/doc/{n}``."""
    v = variant % 5
    if v == 0:
        return f"HTTPS://{url_host.upper()}/doc/{n}#part-{variant}"
    if v == 1:
        return f"https://{url_host}:443/doc/{n}"
    if v == 2:
        return f"https://{url_host}./doc/{n}#frag"
    if v == 3:
        return f"https://{url_host}/doc/{n}?"
    return f"https://{url_host.capitalize()}/doc/{n}"


class CrawlInputs:
    """Documents and seed URLs for one ``(shape, seed)``."""

    def __init__(self, shape: CrawlShape, seed: int):
        self.shape = shape
        self.seed = seed
        rng = np.random.default_rng([seed, shape.n_docs, shape.n_hosts])
        weights = 1.0 / np.arange(1, shape.n_hosts + 1) ** shape.zipf_s
        # which host id is hottest is itself seeded
        host_ids = rng.permutation(shape.n_hosts)
        self.host_of = host_ids[
            rng.choice(shape.n_hosts, size=shape.n_docs, p=weights / weights.sum())
        ]
        self.links = rng.integers(0, shape.n_docs, size=(shape.n_docs, shape.links_per_doc))
        self.messy = rng.random((shape.n_docs, shape.links_per_doc)) < shape.messy_share
        self.variant = rng.integers(0, 5, size=(shape.n_docs, shape.links_per_doc))
        # seeds spread over hosts, one random doc per host in a seeded host
        # order: how many URLs the first round can schedule under per-host
        # caps then depends on the shape, not on where a seed happened to land
        docs_of = {h: np.flatnonzero(self.host_of == h) for h in rng.permutation(shape.n_hosts)}
        hosts = [h for h, docs in docs_of.items() if len(docs)]
        self.seed_docs = [
            int(rng.choice(docs_of[hosts[i % len(hosts)]])) for i in range(shape.n_seeds)
        ]

    def url(self, n: int) -> str:
        return f"https://{self._host(n)}/doc/{n}"

    def _host(self, n: int) -> str:
        return f"host{int(self.host_of[n])}.example.com"

    def _link(self, i: int, j: int) -> str:
        n = int(self.links[i, j])
        if self.messy[i, j]:
            return _messy(self._host(n), n, int(self.variant[i, j]))
        return self.url(n)

    def documents_table(self) -> pa.Table:
        s = self.shape
        per_span = np.array_split(np.arange(s.links_per_doc), s.spans_per_doc)
        doc_ids, spans = [], []
        for i in range(s.n_docs):
            row = [{"kind": "title", "text": f"Document {i}", "media_ref": None, "offset": 0}]
            for k, js in enumerate(per_span, start=1):
                words = " ".join(_WORDS[(i + k + w) % len(_WORDS)] for w in range(6))
                links = " and ".join(self._link(i, int(j)) for j in js)
                row.append(
                    {"kind": "body", "text": f"{words} see {links}.",
                     "media_ref": None, "offset": k}
                )
            doc_ids.append(str(i))
            spans.append(row)
        return pa.table({"doc_id": doc_ids, "spans": spans}, schema=DOC_ARROW_SCHEMA)

    def seed_rows(self) -> list[tuple[str, float]]:
        return [(self.url(int(n)), 1.0) for n in self.seed_docs]

    def write_documents(self, path: str, files: int) -> None:
        """The corpus as ``files`` parquet files under directory ``path``
        (several files, so the scan splits across cores)."""
        os.makedirs(path)
        table = self.documents_table()
        step = -(-table.num_rows // files)
        for k in range(files):
            pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))

    def digest(self) -> str:
        """Fingerprint of the generated inputs (documents and seeds)."""
        h = hashlib.sha256()
        table = self.documents_table()
        for batch in table.to_batches():
            for col in batch.columns:
                h.update(str(col.to_pylist()).encode())
        h.update(repr(self.seed_rows()).encode())
        return h.hexdigest()
