"""The shared Arrow text-hashing core without Spark: the bounded
per-task digest cache under a vocabulary far larger than its cap (a
small cap for exactness, the real cap for memory), and
ensure_distributed's per-tree package zip."""

import os
import random
import zipfile
from functools import partial

from text_hash_reference import spec_minhash, spec_simhash_votes
from xmlschema_spark.distribute import package_zip
from xmlschema_spark.operators import text

CAP = 1 << 10


def _batches(seed: int = 0):
    """102,400 unique tokens in 320 batches of 40 docs, plus hot words
    in every doc (each batch fits the young generation), then one batch
    with more distinct keys than the cap."""
    rng = random.Random(seed)
    hot = ["the", "of", "and", "a", "to", "in"]
    u = 0
    for _ in range(320):
        docs = []
        for _ in range(40):
            toks = [f"u{u + i}" for i in range(8)] + rng.sample(hot, 3)
            u += 8
            rng.shuffle(toks)
            docs.append(" ".join(toks))
        yield docs
    yield [" ".join(f"w{i}" for i in range(j, j + 3 * CAP))
           for j in range(2)] + [None, "", "the"]


def test_digest_cache_bounded_and_exact_across_evictions():
    sim = text._DigestCache(partial(text._simhash_rows, n_bits=64), CAP)
    mh = text._DigestCache(partial(text._minhash_rows, n_hashes=4), CAP)
    evicted = False
    for docs in _batches():
        bits = text.simhash_bits(docs, 64, sim)
        sigs = text.minhash_hex(docs, 4, 3, mh)
        assert len(sim) <= CAP and len(mh) <= CAP
        evicted |= bool(sim.old) and bool(mh.old)
        for j, d in enumerate(docs):
            want = [False] * 64 if d is None else spec_simhash_votes(d, 64)
            assert list(bits[j]) == want, d
            assert [s[j] for s in sigs] == spec_minhash(d), d
    assert evicted
    # hot keys survive eviction: every batch re-promotes them
    assert all(t in sim.young for t in ("the", "of", "and", "a", "to", "in"))


def test_digest_cache_table_grows_by_doubling():
    """The young table starts small and doubles, keeping earlier rows;
    it is never allocated at the cap."""
    derive = partial(text._simhash_rows, n_bits=48)
    c = text._DigestCache(derive, 1 << 16)
    keys = [f"k{j}" for j in range(3000)]
    sizes = []
    for i in range(0, 3000, 600):
        c.lookup(keys[i:i + 600])
        sizes.append(len(c.table))
    assert sizes == [1024, 2048, 2048, 4096, 4096]
    table, idx = c.lookup(keys)
    assert (table[idx] == derive(keys)).all()


def _rss_mb() -> float:
    with open("/proc/self/statm") as f:
        pages = int(f.read().split()[1])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def test_digest_cache_memory_bounded_at_the_real_cap():
    """2 x 10^6 unique 15-char tokens, about twice _TEXT_HASH_CACHE_MAX,
    through the SimHash bit expansion with one task's cache at its real
    cap: the cache never holds more than the cap, and the process grows
    by less than 300 MB. At the cap the cache is ~230 MB (~220 B per
    entry); keeping every entry grows the process by ~390 MB."""
    cap = text._TEXT_HASH_CACHE_MAX
    sim = text._DigestCache(partial(text._simhash_rows, n_bits=64))
    base = peak = _rss_mb()
    most = 0
    for b in range(200):
        docs = [" ".join(f"tok{b * 10_000 + d * 10 + i:012d}"
                         for i in range(10)) for d in range(1000)]
        text.simhash_bits(docs, 64, sim)
        most = max(most, len(sim))
        peak = max(peak, _rss_mb())
    assert cap // 2 < most <= cap
    assert peak - base < 300, peak - base


def _tree(root, body: bytes):
    pkg = os.path.join(root, "xmlschema_spark")
    os.makedirs(pkg)
    for name, data in (("__init__.py", b""), ("mod.py", body)):
        with open(os.path.join(pkg, name), "wb") as f:
            f.write(data)
        os.utime(os.path.join(pkg, name), (1_700_000_000, 1_700_000_000))
    return pkg


def test_package_zip_is_per_tree(tmp_path):
    """Two trees with equal mtimes and different bytes get different
    zips, each holding its own bytes; an unchanged tree reuses its zip."""
    a = _tree(str(tmp_path / "a"), b"X = 1\n")
    b = _tree(str(tmp_path / "b"), b"X = 2\n")
    za, zb = package_zip(a), package_zip(b)
    assert za != zb
    for z, body in ((za, b"X = 1\n"), (zb, b"X = 2\n")):
        with zipfile.ZipFile(z) as f:
            assert f.read("xmlschema_spark/mod.py") == body
            assert sorted(f.namelist()) == ["xmlschema_spark/__init__.py",
                                             "xmlschema_spark/mod.py"]
    assert package_zip(a) == za
