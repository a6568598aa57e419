"""Template renderer registry tests — mirrors the reference's renderer
suite shape (reference tests/test_rendering.py +
tests/test_operation_types/test_render_value.py): registry listing,
pipeline html/markdown with a GOLDEN-FILE assertion, value html paging,
operation typed-doc markdown, operation-minted access, and the CLI
``render <item> as <target>`` / ``render list-renderers`` /
``pipeline list`` surfaces."""

import os
from pathlib import Path

import pytest

from kiara_spark.cli import main

GOLDEN = Path(__file__).parent / "resources" / "renderers"

LOGIC_2 = {
    "pipeline_name": "logic_2",
    "doc": "Two chained ANDs.",
    "steps": [
        {"module_type": "logic.and", "step_id": "and_1"},
        {"module_type": "logic.and", "step_id": "and_2",
         "input_links": {"a": "and_1.y"}},
    ],
    "input_aliases": {"and_1.a": "a", "and_1.b": "b", "and_2.b": "c"},
    "output_aliases": {"and_2.y": "y"},
}


def test_render_registry_lists_included_renderers(ctx):
    infos = ctx.render_registry.renderer_infos()
    combos = {(i["source_type"], i["target_type"]) for i in infos}
    assert {("pipeline", "html"), ("pipeline", "markdown"),
            ("value", "html"), ("op", "markdown")} <= combos
    assert all(i["doc"] for i in infos)  # every renderer documents itself


def test_pipeline_markdown_matches_golden_file(ctx):
    got = ctx.render_registry.render("pipeline", "markdown", LOGIC_2)
    want = (GOLDEN / "logic_pipeline.md").read_text()
    assert got.strip() == want.strip()


def test_pipeline_html_is_escaped_structure_page(ctx, tmp_path):
    # file-path source: the transformer parses + validates the pipeline
    import json

    p = tmp_path / "logic_2.json"
    p.write_text(json.dumps(LOGIC_2))
    html = ctx.render_registry.render("pipeline", "html", str(p))
    assert html.startswith("<!DOCTYPE html>")
    assert "<code>and_1</code>" in html and "<code>and_2</code>" in html
    assert "stage 1" in html and "logic.and" in html
    # inputs/outputs tables
    assert "<code>and_2.y</code>" in html


def test_value_html_pages_and_escapes(ctx):
    df = ctx.spark.createDataFrame(
        [(1, "<b>bold</b>"), (2, "plain"), (3, "x"), (4, "y")],
        "id int, txt string")
    v = ctx.register_table(df, alias="rend_demo")
    html = ctx.render_registry.render("value", "html", v, limit=2)
    assert "&lt;b&gt;bold&lt;/b&gt;" in html      # autoescape on html
    assert "<b>bold</b>" not in html
    assert html.count("<tr>") == 3                # header + 2 rows (limit)
    page2 = ctx.render_registry.render("value", "html", v,
                                       offset=2, limit=2)
    assert ">x<" in page2 and ">plain<" not in page2


def test_operation_markdown_has_typed_field_docs(ctx):
    md = ctx.render_registry.render("op", "markdown", "table.filter.rows")
    assert "# Operation `table.filter.rows`" in md
    assert "## Inputs" in md and "## Outputs" in md
    assert "`table`" in md  # typed field row present


def test_render_operations_are_minted(ctx):
    ops = ctx.operation_registry.operation_ids
    for op_id in ("render.pipeline.as.html", "render.pipeline.as.markdown",
                  "render.pipeline.as.python_script",
                  "render.value.as.html", "render.operation.as.markdown"):
        assert op_id in ops
        assert ctx.operation_registry.resolve(op_id).operation_type == \
            "render_value"


def test_render_pipeline_operation_run_job(ctx, tmp_path):
    import json

    p = tmp_path / "logic_2.json"
    p.write_text(json.dumps(LOGIC_2))
    out = ctx.run_job("render.pipeline.as.markdown", {"item": str(p)})
    md = out["rendered"].data
    assert md.strip() == (GOLDEN / "logic_pipeline.md").read_text().strip()


def test_operation_doc_model_typed(ctx):
    from kiara_spark.doc import operation_doc

    op = ctx.operation_registry.resolve("render.value.as.html")
    d = operation_doc(ctx, op)
    assert d["operation_id"] == "render.value.as.html"
    assert d["module_type"] == "render.item"
    in_fields = {f["name"]: f for f in d["inputs"]}
    assert in_fields["item"]["type"] == "any"
    assert in_fields["render_config"]["optional"] is True
    assert d["outputs"][0] == {
        "name": "rendered", "type": "string", "optional": False,
        "default": None, "is_constant": False, "doc": ""}
    assert d["characteristics"]["is_internal"] is True


def test_no_module_documents_itself_with_the_base_docstring(ctx):
    """A module declared without a doc has an empty description, never the
    inherited ``KiaraModule`` docstring."""
    from kiara_spark.doc import extract_doc
    from kiara_spark.modules import KiaraModule

    base = extract_doc(KiaraModule)["description"]
    leaked = sorted(name for name, cls in ctx.module_registry._modules.items()
                    if extract_doc(cls)["description"] == base)
    assert leaked == []


def test_job_markdown_renderer(ctx):
    """A run job renders to a metadata-only markdown page: manifest,
    input/output value ids, runtime environment rows."""
    out = ctx.run_job("logic.and", {"a": True, "b": False})
    rec = ctx.job_registry.history[-1]
    md = ctx.render_registry.render("job", "markdown", rec.job_id)
    assert f"# Job `{rec.job_id}`" in md
    assert "`logic.and`" in md
    assert "## Inputs" in md and "## Outputs" in md
    assert str(out["y"].value_id) in md
    # direct record object works too; unknown id raises
    assert ctx.render_registry.render("job", "markdown", rec) == md
    with pytest.raises(KeyError):
        ctx.render_registry.render("job", "markdown", "job-nope")
    assert "render.job.as.markdown" in ctx.operation_registry.operation_ids


def test_cli_render_as_html_golden_and_output(tmp_path, capsys, spark):
    import json

    p = tmp_path / "logic_2.json"
    p.write_text(json.dumps(LOGIC_2))
    out_file = tmp_path / "page.html"
    assert main(["render", str(p), "as", "html",
                 "--output", str(out_file)]) == 0
    assert "wrote" in capsys.readouterr().out
    html = out_file.read_text()
    assert html.startswith("<!DOCTYPE html>")
    assert "<code>and_2</code>" in html
    # stdout path (no --output): markdown golden
    assert main(["render", str(p), "as", "markdown"]) == 0
    got = capsys.readouterr().out
    assert got.strip() == (GOLDEN / "logic_pipeline.md").read_text().strip()


def test_cli_render_list_renderers(capsys, spark):
    assert main(["render", "list-renderers"]) == 0
    out = capsys.readouterr().out
    assert "pipeline_html" in out and "value_html" in out
    assert "pipeline -> html" in out.replace("  ", " ").replace(
        "pipeline  -> html", "pipeline -> html") or "html" in out


def test_cli_render_operation_markdown(capsys, spark):
    assert main(["render", "table.filter.rows", "as", "markdown"]) == 0
    out = capsys.readouterr().out
    assert "# Operation `table.filter.rows`" in out
    assert "## Inputs" in out


def test_cli_pipeline_list(tmp_path, monkeypatch, capsys):
    import json

    pdir = tmp_path / "pipes"
    pdir.mkdir()
    (pdir / "logic_2.json").write_text(json.dumps(LOGIC_2))
    (pdir / "broken.json").write_text("{not json")
    (pdir / "broken.yaml").write_text("pipeline_name: [unclosed")
    (pdir / "listy.json").write_text("[1, 2]")   # valid JSON, wrong shape
    monkeypatch.setenv("KIARA_SPARK_PIPELINES", str(pdir))
    assert main(["pipeline", "list"]) == 0
    out = capsys.readouterr().out
    assert "logic_2" in out and "2 steps" in out
    assert "Two chained ANDs." in out          # doc line shown
    # every malformed file (bad JSON, bad YAML, non-dict JSON) is surfaced
    # as <invalid> without hiding the valid pipeline (r8 review)
    assert out.count("<invalid>") == 3


def test_cli_pipeline_list_finds_examples_dir(capsys, monkeypatch):
    monkeypatch.chdir("/root/repo")
    monkeypatch.delenv("KIARA_SPARK_PIPELINES", raising=False)
    assert main(["pipeline", "list"]) == 0
    out = capsys.readouterr().out
    assert "llm_data_prep" in out


def test_pipeline_python_script_matches_golden(ctx):
    """Golden-file render of the python-script target (reference
    PipelinePythonScriptRenderer + pipeline/python_script.py.j2)."""
    got = ctx.render_registry.render(
        "pipeline", "python_script", LOGIC_2,
        inputs={"a": True, "b": True, "c": True})
    want = (GOLDEN / "logic_pipeline.py").read_text()
    assert got.strip() == want.strip()


def test_pipeline_python_script_marker_defaults_and_validation(ctx):
    """Unset required inputs render the (intentionally non-python)
    <TODO_SET_INPUT> marker; module_config defaults render as literals;
    module_config renders an operation_config run_job call; unknown
    render-config input names raise (reference
    utils/rendering.py:create_pipeline_render_inputs)."""
    s = ctx.render_registry.render("pipeline", "python_script", LOGIC_2)
    assert "pipeline_input_a = <TODO_SET_INPUT>" in s
    with pytest.raises(ValueError, match="invalid pipeline inputs: zz"):
        ctx.render_registry.render(
            "pipeline", "python_script", LOGIC_2, inputs={"zz": 1})
    cfg_pipe = {
        "pipeline_name": "cfg_demo",
        "steps": [{"module_type": "logic.and", "step_id": "s",
                   "module_config": {"defaults": {"b": True}}}],
    }
    s2 = ctx.render_registry.render("pipeline", "python_script", cfg_pipe,
                                    inputs={"s__a": False})
    assert "pipeline_input_s__b = True" in s2       # default -> literal
    assert "config_s = {'defaults': {'b': True}}" in s2
    assert "operation_config=config_s" in s2


def test_pipeline_python_script_executes_llm_data_prep(ctx, monkeypatch):
    """The rendered script for examples/llm_data_prep.json actually RUNS:
    exec'ing it builds a KiaraAPI, executes every step through run_job in
    stage order, and binds pipeline_result_* values (reference workflow:
    `kiara render ... > script.py && python script.py`)."""
    monkeypatch.chdir("/root/repo")
    script = ctx.render_registry.render(
        "pipeline", "python_script", "examples/llm_data_prep.json",
        inputs={
            "path": "/root/testdata/sf0.001/documents.parquet",
            "min_quality": "quality_score >= 0.3",
            "summary_query": (
                "select lang, count(*) as n_docs, sum(num_tokens) as "
                "total_tokens from data group by lang"),
        })
    ns = {"__name__": "__main__"}
    exec(compile(script, "rendered_llm_data_prep.py", "exec"), ns)
    clean = ns["pipeline_result_clean_corpus"].data
    summary = ns["pipeline_result_corpus_summary"].data
    assert clean.count() > 0
    assert set(summary.columns) == {"lang", "n_docs", "total_tokens"}


def test_pipeline_png_renderer_valid_image(ctx, tmp_path):
    """render.pipeline.as.png emits a structurally valid, non-blank PNG:
    signature, CRC-checked chunks, scanline count matching IHDR dims, and
    actual dark pixels (boxes/text/edges) on the white canvas — verified
    by an independent stdlib decode, not the encoder's own claims."""
    import struct
    import zlib

    data = ctx.render_registry.render("pipeline", "png", LOGIC_2)
    assert isinstance(data, bytes)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    w, h = struct.unpack(">II", data[16:24])
    assert w > 100 and h > 50
    i, chunks = 8, {}
    while i < len(data):
        (ln,) = struct.unpack(">I", data[i:i + 4])
        tag, payload = data[i + 4:i + 8], data[i + 8:i + 8 + ln]
        (crc,) = struct.unpack(">I", data[i + 8 + ln:i + 12 + ln])
        assert zlib.crc32(tag + payload) == crc
        chunks[tag] = chunks.get(tag, b"") + payload
        i += 12 + ln
    raw = zlib.decompress(chunks[b"IDAT"])
    assert len(raw) == h * (1 + 3 * w)           # filter byte + RGB rows
    assert any(b < 255 for b in raw)             # not a blank canvas
    # CLI path writes binary with --output and refuses stdout
    import json as _json

    p = tmp_path / "logic_2.json"
    p.write_text(_json.dumps(LOGIC_2))
    out = tmp_path / "dag.png"
    assert main(["render", str(p), "as", "png", "--output", str(out)]) == 0
    assert out.read_bytes()[:8] == b"\x89PNG\r\n\x1a\n"
    with pytest.raises(SystemExit, match="binary"):
        main(["render", str(p), "as", "png"])


def test_api_doc_markdown_renderer(ctx):
    """render.api.as.markdown: every public KiaraAPI method appears with
    its live signature and a non-empty summary (docstring or the
    delegated context method's)."""
    import inspect

    from kiara_spark.api import KiaraAPI

    md = ctx.render_registry.render("api", "markdown", "api")
    assert "# `KiaraAPI`" in md
    public = [n for n, _ in inspect.getmembers(KiaraAPI,
                                               predicate=inspect.isfunction)
              if not n.startswith("_")]
    for name in public:
        assert f"`{name}" in md, name
    # no empty summary cells: every row carries a doc line
    rows = [ln for ln in md.splitlines() if ln.startswith("| `")]
    assert len(rows) == len(public)
    assert all(ln.rsplit("|", 2)[-2].strip() for ln in rows)
    assert "render.api.as.markdown" in ctx.operation_registry.operation_ids
    assert "render.pipeline.as.png" in ctx.operation_registry.operation_ids


def test_job_desc_python_script_renderer(ctx, tmp_path):
    """job_desc -> python_script (reference JobDescPythonScriptRenderer,
    included_renderers/job.py:56-119): the operation is wrapped as a
    single-step pipeline and rendered through the pipeline script
    template with the job's inputs pre-filled; file sources get the file
    stem as job alias and ${this_dir} substitution."""
    import json

    jd = {"operation": "logic.and", "inputs": {"a": True},
          "doc": "demo run", "job_alias": "my_and"}
    s = ctx.render_registry.render("job_desc", "python_script", jd)
    assert "pipeline_input_a = True" in s            # file input pre-filled
    assert "pipeline_input_b = <TODO_SET_INPUT>" in s  # unset -> marker
    assert '"logic.and"' in s and "results_my_and" in s
    assert "demo run" in s

    p = tmp_path / "and_job.json"
    p.write_text(json.dumps({"operation": "logic.and",
                             "inputs": {"a": True, "b": False}}))
    s2 = ctx.render_registry.render("job_desc", "python_script", str(p))
    assert "results_and_job" in s2                   # alias = file stem
    assert "pipeline_input_b = False" in s2
    # the rendered script EXECUTES (same contract as the pipeline test)
    ns = {"__name__": "__rendered_job__"}
    exec(compile(s2, "and_job.py", "exec"), ns)
    assert ns["pipeline_result_and_job__y"].data is False

    # ${this_dir} resolves relative to the description file
    p3 = tmp_path / "file_job.json"
    p3.write_text(json.dumps({
        "operation": "import.local.file",
        "inputs": {"path": "${this_dir}/and_job.json"}}))
    s3 = ctx.render_registry.render("job_desc", "python_script", str(p3))
    assert str(tmp_path / "and_job.json") in s3
    assert "render.job_desc.as.python_script" in \
        ctx.operation_registry.operation_ids


def test_job_desc_model_validation(ctx):
    from kiara_spark.registries.jobs import JobDesc

    with pytest.raises(ValueError, match="operation"):
        JobDesc.create_from_data({"inputs": {}})
    with pytest.raises(ValueError, match="unknown job description keys"):
        JobDesc.create_from_data({"operation": "x", "nope": 1})
    jd = JobDesc.create_from_data(
        {"operation": "logic.and", "doc": {"description": "d"}}, alias="a1")
    assert jd.job_alias == "a1" and jd.doc == "d" and jd.inputs == {}
    # the alias argument overrides a data-supplied job_alias (reference
    # parse_data assigns unconditionally, models/job.py:76-77)
    jd2 = JobDesc.create_from_data(
        {"operation": "logic.and", "job_alias": "from_file"}, alias="stem")
    assert jd2.job_alias == "stem"


def test_api_run_job_desc_saves_aliases(ctx, tmp_path):
    """api.run_job_desc executes the description and registers its save
    map (field -> alias); table outputs persist, scalar outputs alias."""
    from kiara_spark.api import KiaraAPI

    api = KiaraAPI(ctx)
    out = api.run_job_desc({"operation": "logic.and",
                            "inputs": {"a": True},
                            "save": {"y": "jd_and_out"}},
                           inputs={"b": True})
    assert out["y"].data is True
    assert "jd_and_out" in ctx.data_registry.aliases
    with pytest.raises(KeyError, match="not an output field"):
        api.run_job_desc({"operation": "logic.and",
                          "inputs": {"a": True, "b": True},
                          "save": {"nope": "x"}})


def test_archive_html_renderer(ctx, tmp_path):
    """archive -> html (reference ArchiveRendererHtml,
    included_renderers/archive.py:55 — whose shipped template is a
    placeholder; this page lists aliases + shipped/lineage-only values).
    Metadata-only: rendering must not open the Parquet."""
    from kiara_spark.archive import export_archive

    df = ctx.spark.createDataFrame([(1, "x"), (2, "y")],
                                   "id int, txt string")
    ctx.register_table(df, alias="arch_src")
    out = ctx.run_job("table.filter.rows",
                      {"table": "alias:arch_src", "where": "id > 1"},
                      save="arch_filtered")
    arch = str(tmp_path / "arch")
    export_archive(ctx, ["arch_filtered"], arch)

    html = ctx.render_registry.render("archive", "html", arch)
    assert html.startswith("<!DOCTYPE html>")
    assert "arch_filtered" in html
    assert "shipped" in html and "table.filter.rows" in html
    assert "id, txt" in html                        # column list rendered
    # manifest dict source works too; junk raises
    import json

    manifest = json.load(open(f"{arch}/manifest.json"))
    from_dict = ctx.render_registry.render("archive", "html", manifest)
    # only the title path differs between the two sources
    assert from_dict.replace("&lt;manifest&gt;", "") == \
        html.replace(arch, "")
    with pytest.raises(ValueError, match="manifest"):
        ctx.render_registry.render("archive", "html",
                                   str(tmp_path / "nope"))
    assert "render.archive.as.html" in ctx.operation_registry.operation_ids


def test_cli_run_job_desc_and_render_inference(tmp_path, capsys, spark):
    """CLI: `run job.json` executes a job description (reference
    `kiara run job.yaml`); `render job.json as python_script` and
    `render <archive_dir> as html` infer their source types."""
    import json

    jd = tmp_path / "and_run.json"
    jd.write_text(json.dumps({"operation": "logic.and",
                              "inputs": {"a": True, "b": True},
                              "save": {"y": "cli_and_y"}}))
    assert main(["run", str(jd)]) == 0
    out = capsys.readouterr().out
    assert "saved cli_and_y" in out and "-- y (boolean)" in out

    assert main(["render", str(jd), "as", "python_script"]) == 0
    script = capsys.readouterr().out
    assert "pipeline_input_a = True" in script and "logic.and" in script


def test_docs_api_page_in_sync(ctx):
    """docs/API.md is the COMMITTED render of the live api-doc renderer
    (the reference ships generated API doc pages).  When this fails the
    page is stale — regenerate with:
    python -c "from kiara_spark.api import KiaraAPI; \
        open('docs/API.md','w').write(KiaraAPI().doc())"
    """
    got = ctx.render_registry.render("api", "markdown", "api")
    want = (Path(__file__).parent.parent / "docs" / "API.md").read_text()
    assert got == want, (
        "docs/API.md is stale — regenerate it (see this test's docstring)")
