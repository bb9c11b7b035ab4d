package graft.viz

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Self-contained HTML renderer for a knowledge graph — the engine's
  * counterpart of the reference's `visualize()` artifact
  * (reference: src/kg_gen/utils/visualize_kg.py:261-304, which splices a
  * JSON view model into an HTML template). The template here is original:
  * a deterministic SVG layout (nodes on a circle, sorted by component
  * then label) plus stats / top-entity / top-relation panels, with the
  * reference dashboard's client-side behaviors — live sidebar entity
  * search (highlight matches, dim the rest), wheel zoom about the
  * cursor, drag pan, double-click reset — in dependency-free inline
  * JS. No physics, no external assets, byte-identical output for
  * identical input (golden-tested).
  *
  * Driver-side by design, exactly like the reference: a human-viewable
  * graph is thousands of nodes, not billions, so the inputs are the
  * already-reduced `Analytics.vizModel` frame (one row per entity) and
  * the collapsed edge list. At 100 TB the reduction happens in Spark
  * (vizModel's joins and ConnectedComponents are distributed); only the
  * final view model is collected here.
  */
object HtmlViz {

  /** #rrggbb from the first 6 hex chars of md5 — the same rule
    * Analytics.vizModel uses in-plan, reproduced on the driver for
    * predicate colors (the view model only carries node colors).
    */
  private[viz] def md5Color(label: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(label.getBytes(StandardCharsets.UTF_8))
    "#" + graft.util.Hex.string(d, 3)
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      // '<' must be escaped: the JSON is embedded in an inline <script>
      // block, and a literal '</script>' inside a string value would
      // terminate the block — broken artifact and stored XSS for
      // attacker-supplied memory text. < is valid JSON for '<'.
      case '<'           => sb.append("\\u003c")
      // U+2028/U+2029 are valid raw in JSON but are line terminators in
      // JavaScript source — pre-ES2019 parsers and strict tooling reject
      // them inside the inline <script> string literal
      case c @ ('\u2028' | '\u2029') => sb.append(f"\\u${c.toInt}%04x")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Build the embedded JSON view model. `viz` is the
    * Analytics.vizModel frame (entity, out_degree, in_degree, degree,
    * component, is_top, color); `triples` is (subject, predicate, obj).
    * All orderings are explicit so the artifact is deterministic.
    */
  private[viz] def viewModelJson(viz: DataFrame, triples: DataFrame): String = {
    val nodes = viz
      .select("entity", "out_degree", "in_degree", "degree", "component", "is_top", "color")
      .collect()
      .sortBy(r => (r.getString(4), r.getString(0).toLowerCase(java.util.Locale.ROOT), r.getString(0)))
    val edges = triples
      .select("subject", "predicate", "obj")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy { case (s, p, o) => (p.toLowerCase(java.util.Locale.ROOT), s.toLowerCase(java.util.Locale.ROOT), o.toLowerCase(java.util.Locale.ROOT), p, s, o) }

    val nodeJson = nodes.map { r =>
      s"""{"id":${jsonStr(r.getString(0))},"outdegree":${r.getLong(1)},"indegree":${r
          .getLong(2)},"degree":${r.getLong(3)},"component":${jsonStr(
          r.getString(4)
        )},"isTop":${r.getLong(5) == 1L},"color":${jsonStr(r.getString(6))}}"""
    }
    val edgeJson = edges.zipWithIndex.map { case ((s, p, o), i) =>
      s"""{"id":"e$i","source":${jsonStr(s)},"predicate":${jsonStr(p)},"target":${jsonStr(
          o
        )},"color":${jsonStr(md5Color(p))}}"""
    }

    val topEntities = nodes
      .sortBy(r => (-r.getLong(3), r.getString(0).toLowerCase(java.util.Locale.ROOT), r.getString(0)))
      .take(10)
      .map(r => s"""{"label":${jsonStr(r.getString(0))},"degree":${r.getLong(3)}}""")
    val predCounts = edges
      .groupBy(_._2)
      .map { case (p, es) => (p, es.length) }
      .toArray
      .sortBy { case (p, c) => (-c, p.toLowerCase(java.util.Locale.ROOT), p) }
    val topRelations = predCounts
      .take(10)
      .map { case (p, c) =>
        s"""{"predicate":${jsonStr(p)},"count":$c,"color":${jsonStr(md5Color(p))}}"""
      }

    val nEnts = nodes.length
    val nComponents = nodes.map(_.getString(4)).distinct.length
    val isolated = nodes.count(_.getLong(3) == 0L)
    val avgDeg =
      if (nEnts == 0) 0.0 else nodes.map(_.getLong(3)).sum.toDouble / nEnts
    val density =
      if (nEnts > 1) edges.length.toDouble / (nEnts.toLong * (nEnts - 1)) else 0.0
    val stats =
      s"""{"entities":$nEnts,"relations":${edges.length},"relationTypes":${predCounts.length},""" +
        s""""isolatedEntities":$isolated,"components":$nComponents,""" +
        s""""averageDegree":${math.round(avgDeg * 100) / 100.0},""" +
        s""""density":${math.round(density * 1000) / 1000.0}}"""

    s"""{"nodes":[${nodeJson.mkString(",")}],"edges":[${edgeJson.mkString(",")}],""" +
      s""""topEntities":[${topEntities.mkString(",")}],""" +
      s""""topRelations":[${topRelations.mkString(",")}],"stats":$stats}"""
  }

  /** Render the full standalone HTML document. */
  def render(viz: DataFrame, triples: DataFrame): String =
    Template.replace("/*DATA*/null", viewModelJson(viz, triples))

  /** Render and write to `path` (UTF-8), creating parent dirs. */
  def write(viz: DataFrame, triples: DataFrame, path: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, render(viz, triples).getBytes(StandardCharsets.UTF_8))
    ()
  }

  // Original template: deterministic circular SVG layout + side panels.
  // Nodes are placed on a circle in DATA order (component-then-label), so
  // connected components form contiguous arcs; radius scales with degree.
  private val Template: String =
    """<!doctype html>
<html lang="en">
<head>
<meta charset="utf-8">
<title>Knowledge graph</title>
<style>
  body { margin: 0; font: 13px/1.45 system-ui, sans-serif; display: flex; height: 100vh; }
  #canvas { flex: 1; min-width: 0; }
  #side { width: 300px; overflow-y: auto; border-left: 1px solid #ddd; padding: 12px 16px; }
  h2 { font-size: 14px; margin: 14px 0 6px; }
  table { border-collapse: collapse; width: 100%; }
  td { padding: 2px 4px; border-bottom: 1px solid #eee; }
  td.num { text-align: right; font-variant-numeric: tabular-nums; }
  .swatch { display: inline-block; width: 10px; height: 10px; border-radius: 2px; margin-right: 6px; }
  line { stroke-opacity: 0.45; }
  circle { stroke: #fff; stroke-width: 1; }
  text.lbl { font-size: 9px; fill: #334; pointer-events: none; }
  #q { width: 100%; box-sizing: border-box; padding: 4px 6px; }
  #canvas { cursor: grab; }
  #canvas.panning { cursor: grabbing; }
</style>
</head>
<body>
<svg id="canvas" xmlns="http://www.w3.org/2000/svg"></svg>
<div id="side">
  <h2>Search</h2><input id="q" type="search" placeholder="entity substring…" autocomplete="off">
  <h2>Stats</h2><table id="stats"></table>
  <h2>Top entities</h2><table id="topEnts"></table>
  <h2>Top relations</h2><table id="topRels"></table>
</div>
<script>
const DATA = /*DATA*/null;
const svg = document.getElementById('canvas');
const W = svg.clientWidth || 900, H = svg.clientHeight || 700;
svg.setAttribute('viewBox', `0 0 ${W} ${H}`);
const cx = W / 2, cy = H / 2, R = Math.min(W, H) / 2 - 60;
const pos = {};
const n = DATA.nodes.length;
DATA.nodes.forEach((node, i) => {
  const a = 2 * Math.PI * i / Math.max(n, 1) - Math.PI / 2;
  pos[node.id] = [cx + R * Math.cos(a), cy + R * Math.sin(a)];
});
const NS = 'http://www.w3.org/2000/svg';
function el(tag, attrs, parent, text) {
  const e = document.createElementNS(NS, tag);
  for (const k in attrs) e.setAttribute(k, attrs[k]);
  if (text !== undefined) e.textContent = text;
  (parent || svg).appendChild(e);
  return e;
}
const edgeEls = [], nodeEls = {};
DATA.edges.forEach(edge => {
  const s = pos[edge.source], t = pos[edge.target];
  if (!s || !t) return;
  const l = el('line', { x1: s[0], y1: s[1], x2: t[0], y2: t[1], stroke: edge.color });
  el('title', {}, l, `${edge.source} —${edge.predicate}→ ${edge.target}`);
  edgeEls.push({ el: l, source: edge.source, target: edge.target });
});
DATA.nodes.forEach(node => {
  const [x, y] = pos[node.id];
  const r = 4 + Math.min(node.degree, 8);
  const c = el('circle', { cx: x, cy: y, r: r, fill: node.color });
  el('title', {}, c,
     `${node.id}\ndegree ${node.degree} (in ${node.indegree} / out ${node.outdegree})\ncomponent ${node.component}`);
  const lbl = node.isTop
    ? el('text', { x: x + r + 2, y: y + 3, 'class': 'lbl' }, svg, node.id) : null;
  nodeEls[node.id] = { circle: c, label: lbl };
});
// live search: substring match on the entity id highlights matching
// nodes, dims the rest, and keeps only edges touching a match readable
document.getElementById('q').addEventListener('input', ev => {
  const q = ev.target.value.toLowerCase();
  const hit = id => q !== '' && id.toLowerCase().includes(q);
  DATA.nodes.forEach(node => {
    const e = nodeEls[node.id], on = q === '' || hit(node.id);
    e.circle.setAttribute('opacity', on ? 1 : 0.15);
    e.circle.setAttribute('stroke', q !== '' && hit(node.id) ? '#000' : '#fff');
    if (e.label) e.label.setAttribute('opacity', on ? 1 : 0.15);
  });
  edgeEls.forEach(e => {
    const on = q === '' || hit(e.source) || hit(e.target);
    e.el.setAttribute('opacity', on ? 1 : 0.08);
  });
});
// pan (drag) + zoom (wheel, centered on the cursor) via the viewBox
let vb = [0, 0, W, H];
const applyVb = () => svg.setAttribute('viewBox', vb.join(' '));
svg.addEventListener('wheel', ev => {
  ev.preventDefault();
  const f = ev.deltaY < 0 ? 1 / 1.15 : 1.15;
  const mx = vb[0] + vb[2] * ev.offsetX / svg.clientWidth;
  const my = vb[1] + vb[3] * ev.offsetY / svg.clientHeight;
  vb = [mx - (mx - vb[0]) * f, my - (my - vb[1]) * f, vb[2] * f, vb[3] * f];
  applyVb();
}, { passive: false });
let drag = null;
svg.addEventListener('mousedown', ev => {
  drag = [ev.clientX, ev.clientY, vb[0], vb[1]];
  svg.classList.add('panning');
});
window.addEventListener('mousemove', ev => {
  if (!drag) return;
  vb[0] = drag[2] - (ev.clientX - drag[0]) * vb[2] / svg.clientWidth;
  vb[1] = drag[3] - (ev.clientY - drag[1]) * vb[3] / svg.clientHeight;
  applyVb();
});
window.addEventListener('mouseup', () => { drag = null; svg.classList.remove('panning'); });
svg.addEventListener('dblclick', () => { vb = [0, 0, W, H]; applyVb(); });
function row(tbl, cells) {
  const tr = document.createElement('tr');
  cells.forEach(c => { const td = document.createElement('td');
    if (typeof c === 'number') td.className = 'num';
    if (c && c.nodeType) td.appendChild(c); else td.textContent = c; tr.appendChild(td); });
  document.getElementById(tbl).appendChild(tr);
}
Object.entries(DATA.stats).forEach(([k, v]) => row('stats', [k, v]));
DATA.topEntities.forEach(e => row('topEnts', [e.label, e.degree]));
DATA.topRelations.forEach(r => {
  const sw = document.createElement('span');
  sw.className = 'swatch'; sw.style.background = r.color;
  const span = document.createElement('span');
  span.appendChild(sw); span.appendChild(document.createTextNode(r.predicate));
  row('topRels', [span, r.count]);
});
</script>
</body>
</html>
"""
}
