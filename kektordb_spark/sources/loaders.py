"""S10 document loaders — the reference's SmartLoader fallback chain
re-expressed for distributed ingest.

Reference surfaces mirrored here:
  * pkg/rag/loader_smart.go:29-88 — SmartLoader: optional CLI parser
    tried first, silent fallback to the internal AutoLoader when the
    CLI tool fails / times out / returns empty output;
  * pkg/rag/loader_cli.go:43-110 — CLILoader: ``{{file_path}}``
    placeholder substitution, timeout, empty-output = error, stderr
    non-fatal;
  * pkg/rag/loader_auto.go:23-45 — AutoLoader extension switch
    (.pdf / .docx / known-text list / default-as-text);
  * pkg/rag/loader_docx.go:19-140 — DOCX = zip archive, text from
    word/document.xml with Heading styles rendered as markdown #s;
  * pkg/rag/loader_text.go — plain read;
  * pkg/rag/pipeline.go:150-205 — directory scan rules: hidden
    files/dirs skipped, ``.aof``/``.kdb``/``.tmp`` skipped,
    include(whitelist)/exclude(blacklist) fnmatch on the BASENAME.

Spark shape: parsing is a per-file pure function → the loader object
ships to executors inside one ``mapInPandas`` over the path list, so
a million-file corpus parses with full cluster parallelism while the
driver only ever handles path strings. Parse failures become error
ROWS (the pipeline logs-and-continues per file, pipeline.go:205-210),
never job failures. On a real cluster the path column would point at
a shared filesystem / object store — the same contract as Spark's
own ``binaryFile`` source.

The PDF branch (r5, widened r6) extracts text with a pure-Python
content-stream scanner (sources/pdf.py: page-structured extraction,
uncompressed/Flate/LZW/ASCIIHex/ASCII85 streams, BT..ET text
operators, /ToUnicode CMaps for CID fonts — the reference
PDFAdvancedLoader's text path, loader_pdf_advanced.go:63-83). PDFs
beyond the scanner (image-only, encrypted, compressed-object-stream
xrefs) still raise ``LoaderError``, which keeps the SmartLoader+CLI
path the production route for those, exactly as the reference falls
back on its own parse failures.
"""

from __future__ import annotations

import fnmatch
import os
import subprocess
import xml.etree.ElementTree as ET
import zipfile
from dataclasses import dataclass, field

SKIPPED_EXTENSIONS = {".aof", ".kdb", ".tmp"}
DEFAULT_CLI_TIMEOUT = 30.0


class LoaderError(RuntimeError):
    """A loader could not produce text for a file."""


@dataclass
class Document:
    """Loader output (reference rag.Document): extracted text plus
    image asset references (always empty here — image extraction needs
    the PDF stack this container lacks)."""

    text: str
    images: list = field(default_factory=list)
    loader: str = ""


class TextLoader:
    """Plain text read (loader_text.go)."""

    name = "text"

    def load(self, path: str) -> Document:
        with open(path, encoding="utf-8", errors="replace") as fh:
            return Document(text=fh.read(), loader=self.name)


class DocxLoader:
    """DOCX text extraction via the stdlib (loader_docx.go:19-140):
    the .docx IS a zip; paragraphs come from word/document.xml, and
    Heading1/2/3 paragraph styles render as markdown #/##/### so the
    markdown splitter preset can cut on structure downstream."""

    name = "docx"

    def load(self, path: str) -> Document:
        try:
            with zipfile.ZipFile(path) as zf:
                try:
                    xml_bytes = zf.read("word/document.xml")
                except KeyError:
                    raise LoaderError(
                        f"invalid docx: word/document.xml not found in {path}"
                    )
        except zipfile.BadZipFile as exc:
            raise LoaderError(f"failed to open docx zip {path}: {exc}") from exc
        return Document(text=self._parse_xml(xml_bytes), loader=self.name)

    @staticmethod
    def _parse_xml(xml_bytes: bytes) -> str:
        # Namespace-insensitive walk, same events as the reference's
        # token loop: <w:p> paragraph, <w:pStyle w:val=...> style,
        # <w:t> text runs.
        def local(tag: str) -> str:
            return tag.rsplit("}", 1)[-1]

        out: list[str] = []
        root = ET.fromstring(xml_bytes)
        for p in root.iter():
            if local(p.tag) != "p":
                continue
            style = ""
            runs: list[str] = []
            for el in p.iter():
                name = local(el.tag)
                if name == "pStyle":
                    for k, v in el.attrib.items():
                        if local(k) == "val":
                            style = v
                elif name == "t" and el.text:
                    runs.append(el.text)
            text = "".join(runs)
            if not text.strip():
                continue
            prefix = ""
            if "heading" in style.lower():
                if "1" in style:
                    prefix = "# "
                elif "2" in style:
                    prefix = "## "
                elif "3" in style:
                    prefix = "### "
            out.append(prefix + text + "\n\n")
        return "".join(out)


class PdfLoader:
    """PDF text extraction via the pure-Python content-stream scanner
    (sources/pdf.py — page-structured, Flate/LZW/ASCIIHex/ASCII85
    filters, /ToUnicode CMap mapping for CID fonts, BT..ET text
    operators). Mirrors the reference's text path
    (loader_pdf_advanced.go:63-83: per-page plain text joined with a
    newline); image extraction (:86-172) stays out of scope. A PDF
    from which no text is recovered (image-only, or the residual
    encodings the scanner documents as unsupported) raises LoaderError
    — loud, so SmartLoader's CLI-parser route takes over exactly as
    the reference's SmartLoader falls back on its own failures."""

    name = "pdf"

    def load(self, path: str) -> Document:
        from kektordb_spark.sources.pdf import extract_pdf_text

        try:
            with open(path, "rb") as fh:
                data = fh.read()
        except OSError as exc:
            raise LoaderError(f"failed to read pdf {path}: {exc}") from exc
        if not data.startswith(b"%PDF"):
            raise LoaderError(f"not a PDF (missing %PDF header): {path}")
        text = extract_pdf_text(data)
        if not text.strip():
            raise LoaderError(
                f"no text recovered from PDF (image-only, or encodings "
                f"beyond the internal scanner — configure a CLI parser): {path}"
            )
        return Document(text=text, loader=self.name)


class CliLoader:
    """External CLI parser (loader_cli.go:43-110): command template
    with ``{{file_path}}`` placeholders, bounded by ``timeout``;
    non-zero exit, timeout, or empty stdout is a LoaderError (which
    SmartLoader turns into a fallback); stderr alone is non-fatal."""

    name = "cli"

    def __init__(self, command: list[str], timeout: float = DEFAULT_CLI_TIMEOUT):
        if not command:
            raise ValueError("cli loader: empty command template")
        self.command = list(command)
        self.timeout = timeout if timeout > 0 else DEFAULT_CLI_TIMEOUT

    def load(self, path: str) -> Document:
        args = [a.replace("{{file_path}}", path) for a in self.command]
        try:
            proc = subprocess.run(
                args, capture_output=True, timeout=self.timeout, text=True,
            )
        except subprocess.TimeoutExpired:
            raise LoaderError(
                f"cli parser timed out after {self.timeout}s: {args[0]}"
            )
        except OSError as exc:
            raise LoaderError(f"cli parser failed ({exc}): {args[0]}") from exc
        if proc.returncode != 0:
            raise LoaderError(
                f"cli parser failed (exit {proc.returncode}): "
                f"{proc.stderr.strip()}"
            )
        text = proc.stdout.strip()
        if not text:
            raise LoaderError("cli parser returned empty output")
        return Document(text=text, loader=self.name)


class AutoLoader:
    """Extension-based dispatch (loader_auto.go:23-45); unknown
    extensions fall back to the text loader, like the reference."""

    name = "auto"

    def __init__(self):
        self.text_loader = TextLoader()
        self.pdf_loader = PdfLoader()
        self.docx_loader = DocxLoader()

    def load(self, path: str) -> Document:
        ext = os.path.splitext(path)[1].lower()
        if ext == ".pdf":
            return self.pdf_loader.load(path)
        if ext == ".docx":
            return self.docx_loader.load(path)
        return self.text_loader.load(path)


class SmartLoader:
    """CLI-first with silent internal fallback (loader_smart.go:63-88):
    when ``parser_command`` is set, try it; ANY failure (spawn error,
    timeout, non-zero exit, empty output) falls back to AutoLoader.
    Without a parser command it IS the AutoLoader."""

    name = "smart"

    def __init__(
        self,
        parser_command: list[str] | None = None,
        timeout: float = DEFAULT_CLI_TIMEOUT,
    ):
        self.cli = CliLoader(parser_command, timeout) if parser_command else None
        self.fallback = AutoLoader()

    def load(self, path: str) -> Document:
        if self.cli is None:
            return self.fallback.load(path)
        try:
            return self.cli.load(path)
        except LoaderError:
            return self.fallback.load(path)


def scan_directory(
    root: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> list[str]:
    """The pipeline's filesystem walk (pipeline.go:150-205): hidden
    dirs/files skipped, engine file extensions skipped, then
    include-whitelist (empty = everything) and exclude-blacklist
    fnmatch'd against the BASENAME (like filepath.Match). Sorted for
    deterministic ingest order."""
    out: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith(".") and d not in ("kektor_data", "temp_rag_data")
        ]
        for fname in filenames:
            if fname.startswith("."):
                continue
            if os.path.splitext(fname)[1].lower() in SKIPPED_EXTENSIONS:
                continue
            if include and not any(fnmatch.fnmatch(fname, p) for p in include):
                continue
            if exclude and any(fnmatch.fnmatch(fname, p) for p in exclude):
                continue
            out.append(os.path.join(dirpath, fname))
    return sorted(out)


def load_paths(spark, paths: list[str], loader=None):
    """Distributed parse: one ``mapInPandas`` over the path list —
    the loader ships to executors and each file parses where the task
    runs (paths must resolve on executors: shared FS / object store,
    the binaryFile-source contract). Returns
    (path, text, loader, error) rows; a failed parse is an ERROR ROW,
    not a job failure (pipeline.go:205-210 logs and continues)."""
    loader = loader or SmartLoader()

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            texts, loaders, errors = [], [], []
            for p in pdf["path"]:
                try:
                    doc = loader.load(p)
                    texts.append(doc.text)
                    loaders.append(doc.loader)
                    errors.append(None)
                except (LoaderError, OSError) as exc:
                    texts.append(None)
                    loaders.append(None)
                    errors.append(str(exc))
            yield pd.DataFrame(
                {"path": pdf["path"], "text": texts, "loader": loaders,
                 "error": errors}
            )

    pdf = spark.createDataFrame([(p,) for p in paths], "path string")
    # one task per ~64 files keeps a million-file corpus parallel while
    # bounding task count; local fixture lists stay in a few tasks
    n_parts = max(1, min(len(paths) // 64 + 1, 1024))
    return pdf.repartition(n_parts).mapInPandas(
        parse, "path string, text string, loader string, error string"
    )


def ingest_directory(
    spark,
    root: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    parser_command: list[str] | None = None,
    now: int = 0,
    chunk_size: int = 60,
    overlap: int = 10,
):
    """Full S10 scan → parse → chunk → embed → link pipeline over a
    directory (pipeline.go scanAndProcess + processFile). Returns
    (vectors, edges, failures): failures is the error-row relation for
    the caller to log/retry — never silently dropped."""
    from pyspark.sql import functions as F

    from kektordb_spark.sources import rag

    parsed = load_paths(
        spark, scan_directory(root, include, exclude),
        SmartLoader(parser_command),
    )
    ok = parsed.where(F.col("error").isNull()).select(
        F.col("path").alias("doc_id"), "text"
    )
    failures = parsed.where(F.col("error").isNotNull()).select("path", "error")
    vectors, edges = rag.ingest(
        ok, now=now, chunk_size=chunk_size, overlap=overlap
    )
    return vectors, edges, failures
