"""CatalogStore: Apply (DDL) with CAS, validation, persisted selector
resolution."""

import pytest

from core_spark.catalog import (
    ApplyConflict,
    CatalogStore,
    JournalSpec,
    Label,
    LabelSelector,
    SpecValidation,
)


def _spec(name, **kw):
    return JournalSpec(name=name, labels=(Label("app", "demo"),), **kw)


def test_apply_upsert_delete_resolve(spark, tmp_path):
    cs = CatalogStore(str(tmp_path))
    v1 = cs.apply(upserts=(_spec("demo/a"), _spec("demo/b")))
    assert v1 == 1 and {s.name for s in cs.specs()} == {"demo/a", "demo/b"}

    # update one, delete one, CAS on the right version
    v2 = cs.apply(
        upserts=(JournalSpec("demo/a", (Label("app", "demo2"),)),),
        deletions=("demo/b",),
        expect_version=v1,
    )
    assert v2 == 2
    specs = cs.specs()
    assert [s.name for s in specs] == ["demo/a"]
    assert specs[0].labels[0].value == "demo2"

    got = {
        r.name
        for r in cs.resolve(
            spark, LabelSelector(include={"app": ("demo2",)})
        ).collect()
    }
    assert got == {"demo/a"}


def test_apply_cas_conflict(tmp_path):
    cs = CatalogStore(str(tmp_path))
    cs.apply(upserts=(_spec("demo/a"),))
    with pytest.raises(ApplyConflict):
        cs.apply(upserts=(_spec("demo/b"),), expect_version=0)
    # a racing writer taking the next version slot
    other = CatalogStore(str(tmp_path))
    other.apply(upserts=(_spec("demo/c"),))
    assert {s.name for s in cs.specs()} == {"demo/a", "demo/c"}


def test_apply_racing_a_concurrent_apply_conflicts(tmp_path, monkeypatch):
    """An apply builds its version from the specs at the version it
    commits after: a concurrent apply landing in between makes it
    raise ApplyConflict, never commit over the other's spec."""
    cs = CatalogStore(str(tmp_path))
    cs.apply(upserts=(_spec("demo/a"),))
    read = cs._specs_at

    def racing_read(v):
        CatalogStore(str(tmp_path)).apply(upserts=(_spec("demo/c"),))
        return read(v)

    monkeypatch.setattr(cs, "_specs_at", racing_read)
    with pytest.raises(ApplyConflict, match="catalog v2 concurrently applied"):
        cs.apply(upserts=(_spec("demo/b"),))
    monkeypatch.undo()
    assert {s.name for s in cs.specs()} == {"demo/a", "demo/c"}
    assert cs.version() == 2


def test_validation(tmp_path):
    cs = CatalogStore(str(tmp_path))
    with pytest.raises(SpecValidation, match="fragment_length"):
        cs.apply(upserts=(_spec("demo/x", fragment_length=100),))
    with pytest.raises(SpecValidation, match="codec"):
        cs.apply(upserts=(_spec("demo/x", codec="LZ4"),))
    with pytest.raises(SpecValidation, match="name"):
        cs.apply(upserts=(_spec(""),))


def test_shard_catalog_apply_validate_and_run(spark, tmp_path):
    """ShardSpec catalog: CAS'd apply/list, validation, and a spec
    pulled from the catalog actually DRIVING run_shard."""
    import os

    import pytest

    from core_spark.catalog import (
        ApplyConflict,
        ShardCatalog,
        ShardSpec,
        SpecValidation,
    )
    from pyspark.sql import functions as F

    from core_spark.sources.journal import Journal
    from core_spark.streaming.shard import run_shard

    root = str(tmp_path)
    src = os.path.join(root, "src")
    os.makedirs(src)
    spark.createDataFrame([("a",), ("b",), ("a",)], "word string").coalesce(
        1
    ).write.parquet(os.path.join(src, "c0.parquet"))

    cat = ShardCatalog(root)
    spec = ShardSpec(
        id="wc-0",
        out_root=os.path.join(root, "out"),
        out_journal="wc/deltas",
        checkpoint_dir=os.path.join(root, "ckpt"),
        source_glob=src + "/*",
        source_schema="word string",
        max_files_per_trigger=1,
    )
    assert cat.apply(upserts=(spec,)) == 1
    assert [s.id for s in cat.specs()] == ["wc-0"]

    # validation: neither source / both sources / journal source
    # without a root / bad id
    with pytest.raises(SpecValidation):
        cat.apply(upserts=(ShardSpec(
            id="bad", out_root="r", out_journal="j", checkpoint_dir="c",
        ),))
    with pytest.raises(SpecValidation):
        cat.apply(upserts=(ShardSpec(
            id="bad", out_root="r", out_journal="j", checkpoint_dir="c",
            source_glob="g/*", source_schema="a int",
            source_journal="in/j", source_root="r",
        ),))
    with pytest.raises(SpecValidation, match="source_root"):
        cat.apply(upserts=(ShardSpec(
            id="bad", out_root="r", out_journal="j", checkpoint_dir="c",
            source_journal="in/j",
        ),))
    with pytest.raises(SpecValidation, match="shard id"):
        cat.apply(upserts=(ShardSpec(
            id="a/b", out_root="r", out_journal="j", checkpoint_dir="c",
            source_glob="g/*", source_schema="a int",
        ),))
    # stray files in the catalog dir never brick version parsing
    import os as _os

    open(_os.path.join(cat.dir, "v.json"), "w").write("junk")
    open(_os.path.join(cat.dir, "vold.json"), "w").write("junk")
    assert cat.version() == 1
    with pytest.raises(ApplyConflict):
        cat.apply(deletions=("wc-0",), expect_version=0)

    # the stored spec drives a real shard run
    cfg = cat.specs()[0].to_config()
    run_shard(
        spark, cfg,
        lambda df: df.groupBy("word").count(),
    ).awaitTermination(120)
    out = {
        r.word: r.total
        for r in Journal(cfg.out_root, cfg.out_journal)
        .read(spark)
        .groupBy("word")
        .agg(F.sum("count").alias("total"))
        .collect()
    }
    assert out == {"a": 2, "b": 1}
