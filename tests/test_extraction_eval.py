"""Realistic extraction eval set (round-5 verdict item 7).

extract_main was previously certified only on the synthetic chrome
corpus its own generator builds.  These ~20 hand-written page shapes
mirror the layouts a real crawl hits — comment threads, consent
banners, pagination chrome, legacy table layouts, sidebars/TOCs, social
bars, paywalled teasers — each with labeled main-content blocks (must
survive extraction) and junk blocks (must be stripped).

Scoring: per page, recall = fraction of labeled main blocks present in
the extracted text, precision = fraction of *extracted-side* claims
that are not junk (1 - junk leaked / junk labeled).  The suite pins
mean F1 >= 0.9 and a per-page floor, so a heuristic regression shows up
as a number, not a vibe.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from rust_html2text_spark.engine.extract import extract_main  # noqa: E402

# Each fixture: (name, html, main_blocks, junk_blocks)
FIXTURES: list[tuple[str, str, list[str], list[str]]] = []


def fx(name, html, main, junk):
    FIXTURES.append((name, html, main, junk))


PROSE = (
    "The committee reviewed the proposal in detail, noting several "
    "areas where the cost estimates relied on outdated assumptions, "
    "and asked the authors to revise the projections before the vote."
)
PROSE2 = (
    "After two hours of discussion, the members agreed that the revised "
    "timeline was achievable, provided the procurement step began no "
    "later than the first week of March."
)
PROSE3 = (
    "Independent observers called the compromise a rare example of both "
    "sides conceding early, which kept the negotiation short."
)

fx(
    "news-article-with-comments",
    f"""<html><body>
    <nav><a href="/">Home</a> <a href="/politics">Politics</a> <a href="/sports">Sports</a></nav>
    <div id="main"><article>
      <h1>Committee approves revised budget</h1>
      <p>{PROSE}</p>
      <p>{PROSE2}</p>
    </article></div>
    <section id="comments">
      <h3>42 Comments</h3>
      <div class="comment"><b>user123</b><p>First! great article lol</p></div>
      <div class="comment"><b>grumpy_sam</b><p>This is why I canceled my subscription, totally biased reporting as usual.</p></div>
      <div class="comment"><b>jane_d</b><p>Can someone explain the procurement step? Asking for a friend who works in logistics.</p></div>
    </section>
    <footer>© 2026 Example News. <a href="/terms">Terms</a></footer>
    </body></html>""",
    [PROSE, PROSE2],
    ["First! great article", "canceled my subscription", "Asking for a friend"],
)

fx(
    "consent-banner-overlay",
    f"""<html><body>
    <div class="cookie-consent" id="gdpr-banner"><p>We value your privacy. We and our 847 partners store and access information on your device to provide personalised ads. You can accept or manage your choices at any time.</p><button>Accept all</button><button>Reject all</button></div>
    <header><h1>The Daily Ledger</h1></header>
    <article><h2>Harbour expansion delayed again</h2>
      <p>{PROSE}</p>
      <p>{PROSE3}</p>
    </article>
    <footer><p>Subscribe to our newsletter for more stories like this delivered to your inbox every morning.</p></footer>
    </body></html>""",
    [PROSE, PROSE3],
    ["847 partners", "Accept all", "newsletter"],
)

fx(
    "pagination-chrome",
    f"""<html><body>
    <nav class="breadcrumb"><a href="/">Home</a> › <a href="/guides">Guides</a> › Part 3</nav>
    <div id="content"><article>
      <h1>Guide, part 3: tuning</h1>
      <p>{PROSE2}</p>
      <p>{PROSE}</p>
    </article></div>
    <div class="pagination"><a href="/guides/2">« Previous</a> <a href="/guides/1">1</a> <a href="/guides/2">2</a> <b>3</b> <a href="/guides/4">4</a> <a href="/guides/4">Next »</a></div>
    <aside class="related"><h4>Related guides</h4><ul><li><a href="/g/a">Ten tips for faster builds</a></li><li><a href="/g/b">Choosing a window size</a></li></ul></aside>
    </body></html>""",
    [PROSE2, PROSE],
    ["Previous", "Ten tips for faster builds"],
)

fx(
    "legacy-table-layout",
    f"""<html><body>
    <table width="100%" border="0"><tr>
      <td width="20%" valign="top"><a href="/">HOME</a><br><a href="/news">NEWS</a><br><a href="/archive">ARCHIVE</a><br><a href="/links">LINKS</a><br><a href="/guestbook">GUESTBOOK</a></td>
      <td width="60%" valign="top">
        <h2>Trip report: the northern pass</h2>
        <p>{PROSE}</p>
        <p>{PROSE3}</p>
        <p>{PROSE2}</p>
      </td>
      <td width="20%" valign="top"><b>Sponsors</b><br>Buy cheap hosting now!<br>Best deals on modems.</td>
    </tr></table>
    <center><font size="1">Webmaster: best viewed in 800x600</font></center>
    </body></html>""",
    [PROSE, PROSE2, PROSE3],
    ["GUESTBOOK", "cheap hosting", "800x600"],
)

fx(
    "forum-thread",
    f"""<html><body>
    <div class="site-header"><a href="/forum">Forum index</a> » <a href="/forum/12">Hardware</a></div>
    <div class="thread">
      <div class="post"><div class="post-body"><p>Has anyone measured the difference between the two revisions of this board? {PROSE}</p></div></div>
      <div class="post"><div class="post-body"><p>I ran both for a week. {PROSE2}</p></div></div>
    </div>
    <div class="signature">My rig: watercooled, 128GB, RGB everything — check my build log!</div>
    <div class="forum-footer"><a href="/register">Register</a> to reply. Powered by ForumSoft 3.1</div>
    </body></html>""",
    [PROSE, PROSE2],
    ["RGB everything", "Powered by ForumSoft"],
)

fx(
    "doc-page-with-toc",
    f"""<html><body>
    <nav class="sidebar"><h4>Contents</h4><ul><li><a href="#install">Install</a></li><li><a href="#config">Configure</a></li><li><a href="#faq">FAQ</a></li><li><a href="#api">API index</a></li><li><a href="#cli">CLI flags</a></li></ul></nav>
    <main><article>
      <h1>Configuration</h1>
      <p>{PROSE}</p>
      <pre>timeout = 30\nretries = 4</pre>
      <p>{PROSE2}</p>
    </article></main>
    <footer>Docs built with StaticGen. <a href="/edit">Edit this page</a></footer>
    </body></html>""",
    [PROSE, PROSE2, "timeout = 30"],
    ["API index", "StaticGen"],
)

fx(
    "social-share-bars",
    f"""<html><body>
    <div class="share-top">Share: <a href="#">Twitter</a> <a href="#">Facebook</a> <a href="#">LinkedIn</a> <a href="#">Email</a> <a href="#">WhatsApp</a></div>
    <article>
      <h1>Why the reservoir keeps dropping</h1>
      <p>{PROSE3}</p>
      <p>{PROSE}</p>
    </article>
    <div class="share-bottom">Liked this? Share it: <a href="#">Twitter</a> <a href="#">Facebook</a></div>
    <div class="newsletter-cta"><h3>Don't miss a story</h3><p>Get our best reporting in your inbox. No spam, unsubscribe anytime.</p></div>
    </body></html>""",
    [PROSE3, PROSE],
    ["WhatsApp", "unsubscribe anytime"],
)

fx(
    "paywall-teaser-plus-body",
    f"""<html><body>
    <article>
      <h1>Inside the merger talks</h1>
      <p>{PROSE}</p>
      <p>{PROSE2}</p>
      <p>{PROSE3}</p>
    </article>
    <div class="paywall-prompt"><h3>You've reached your free article limit</h3><p>Subscribe for $1/week to keep reading. Cancel anytime. Already a subscriber? Sign in.</p></div>
    <aside class="trending"><h4>Trending now</h4><ol><li><a href="/1">Celebrity spotted at airport</a></li><li><a href="/2">Quiz: which sandwich are you?</a></li></ol></aside>
    </body></html>""",
    [PROSE, PROSE2, PROSE3],
    ["free article limit", "which sandwich"],
)

fx(
    "recipe-with-chrome",
    f"""<html><body>
    <header class="masthead"><h1>Everyday Kitchen</h1><nav><a href="/recipes">Recipes</a> <a href="/videos">Videos</a> <a href="/shop">Shop</a></nav></header>
    <div class="ad-slot">ADVERTISEMENT — premium cookware sale, up to 60% off this weekend only</div>
    <main><article class="recipe">
      <h1>Braised winter greens</h1>
      <p>A slow braise turns tough stems silky, and the garlic mellows into something sweet enough to spread on bread.</p>
      <ul><li>two bunches of winter greens, stems separated</li><li>six cloves of garlic, crushed</li><li>a strip of lemon peel</li></ul>
      <p>Cook the stems first with the garlic and lemon peel, then fold in the leaves and let everything collapse together over low heat for forty minutes.</p>
    </article></main>
    <section class="app-cta"><p>Save this recipe in our free app! Scan the QR code to download.</p></section>
    </body></html>""",
    [
        "slow braise turns tough stems silky",
        "six cloves of garlic",
        "collapse together over low heat",
    ],
    ["ADVERTISEMENT", "Scan the QR code"],
)

fx(
    "blog-with-author-bio",
    f"""<html><body>
    <article>
      <h1>Notes on a failed migration</h1>
      <p>{PROSE}</p>
      <p>{PROSE2}</p>
    </article>
    <div class="author-bio"><img src="/me.jpg" alt=""><p>Sam writes about infrastructure and lives with two cats. Follow Sam on social media for more hot takes.</p></div>
    <div class="related-posts"><h4>You might also like</h4><a href="/p/1">The time we deleted prod</a> <a href="/p/2">Five nines is a lie</a></div>
    </body></html>""",
    [PROSE, PROSE2],
    ["two cats", "deleted prod"],
)

fx(
    "news-with-inline-ad",
    f"""<html><body>
    <article>
      <h1>Transit authority posts record ridership</h1>
      <p>{PROSE3}</p>
      <div class="ad-container"><span>Sponsored: Meet singles in your area tonight!</span></div>
      <p>{PROSE}</p>
    </article>
    <nav class="section-nav"><a href="/metro">Metro</a> <a href="/state">State</a> <a href="/nation">Nation</a></nav>
    </body></html>""",
    [PROSE3, PROSE],
    ["Meet singles"],
)

fx(
    "product-page",
    f"""<html><body>
    <nav class="crumbs"><a href="/">Shop</a> / <a href="/tools">Tools</a> / Planes</nav>
    <main><div class="product">
      <h1>No. 4 smoothing plane</h1>
      <p>The body is cast from stress-relieved iron and machined flat, with a frog that adjusts without removing the blade, which makes fine setup quick even mid-job.</p>
      <p>The blade arrives honed; most users can take shavings within minutes of unboxing rather than spending an evening flattening the back.</p>
    </div></main>
    <div class="reviews-summary">4.8 stars from 2,341 reviews</div>
    <div class="cart-upsell"><p>Customers also bought: blade camber gauge, honing film pack, replacement lever cap.</p></div>
    <footer><a href="/returns">Returns</a> <a href="/shipping">Shipping</a></footer>
    </body></html>""",
    [
        "stress-relieved iron and machined flat",
        "shavings within minutes of unboxing",
    ],
    ["Customers also bought", "2,341 reviews"],
)

fx(
    "search-results-chrome-heavy",
    f"""<html><body>
    <header><form><input name="q"><button>Search</button></form></header>
    <div id="results"><article>
      <h2>Results for "braising"</h2>
      <p>The technique pages below cover braising from stovetop to oven, including how the liquid level changes the outcome and why a heavy lid matters more than exact temperature.</p>
      <p>Readers who searched for braising most often continued to the winter greens recipe, which walks through timing for stems versus leaves in detail.</p>
    </article></div>
    <div class="filters"><label><input type="checkbox">Recipes</label><label><input type="checkbox">Videos</label><label><input type="checkbox">Articles</label></div>
    <footer>Search powered by SiteFind</footer>
    </body></html>""",
    [
        "liquid level changes the outcome",
        "timing for stems versus leaves",
    ],
    ["SiteFind"],
)

fx(
    "wiki-style-with-infobox",
    f"""<html><body>
    <div class="infobox"><table><tr><th>Founded</th><td>1902</td></tr><tr><th>HQ</th><td>Dover</td></tr><tr><th>Employees</th><td>214</td></tr></table></div>
    <div id="content"><article>
      <p>The company began as a rope-walk supplying coastal schooners, and its pivot to synthetic line after the war is still taught as a case study in surviving a collapsing market.</p>
      <p>{PROSE3}</p>
    </article></div>
    <div id="catlinks">Categories: <a href="/c/1">Manufacturers</a> | <a href="/c/2">1902 establishments</a></div>
    </body></html>""",
    ["rope-walk supplying coastal schooners", PROSE3],
    ["1902 establishments"],
)

fx(
    "event-page-with-signup",
    f"""<html><body>
    <article>
      <h1>Spring repair café</h1>
      <p>Bring your broken lamps, jammed zips and wobbly chairs; volunteer fixers will work through them with you so the repair is something you can do yourself next time.</p>
      <p>{PROSE2}</p>
    </article>
    <div class="signup-widget"><h3>Reserve a slot</h3><form><input placeholder="email"><button>Sign up</button></form><p>By signing up you agree to our privacy policy and occasional event emails.</p></div>
    <nav class="global"><a href="/events">All events</a> <a href="/venues">Venues</a></nav>
    </body></html>""",
    ["volunteer fixers will work through them", PROSE2],
    ["occasional event emails"],
)

fx(
    "newsletter-interstitial-mid-dom",
    f"""<html><body>
    <div class="top-banner">FLASH SALE: 40% off annual plans, today only!</div>
    <main><article>
      <h1>Reading the flood maps</h1>
      <p>{PROSE}</p>
      <p>{PROSE3}</p>
      <p>{PROSE2}</p>
    </article></main>
    <div class="interstitial"><h3>Enjoying this article?</h3><p>Join 80,000 readers who get one good essay every Sunday morning.</p></div>
    </body></html>""",
    [PROSE, PROSE2, PROSE3],
    ["FLASH SALE", "80,000 readers"],
)

fx(
    "video-page-with-transcript",
    f"""<html><body>
    <div class="player-chrome"><button>Play</button><button>Mute</button><span>0:00 / 12:41</span></div>
    <section class="transcript"><article>
      <h2>Transcript</h2>
      <p>What we found when we opened the gearbox was not wear but contamination; someone had topped it up with the wrong oil, and the additives attacked the bronze worm wheel.</p>
      <p>{PROSE3}</p>
    </article></section>
    <aside class="up-next"><h4>Up next</h4><a href="/v/2">Rebuilding the clutch pack</a><a href="/v/3">Why seals fail</a></aside>
    </body></html>""",
    ["attacked the bronze worm wheel", PROSE3],
    ["Rebuilding the clutch pack"],
)

fx(
    "press-release-boilerplate-tail",
    f"""<html><body>
    <article>
      <h1>Company announces depot expansion</h1>
      <p>{PROSE2}</p>
      <p>{PROSE}</p>
      <div class="boilerplate"><p>About ExampleCorp: ExampleCorp is a leading provider of innovative solutions that empower stakeholders to unlock synergies across the value chain. Forward-looking statements are subject to risks and uncertainties.</p></div>
    </article>
    <div class="media-contacts">Media contact: press@example.com, +1 555 0100</div>
    </body></html>""",
    [PROSE2, PROSE],
    ["unlock synergies"],
)

fx(
    "qa-page-accepted-answer",
    f"""<html><body>
    <div class="question"><article>
      <h1>Why does the fermentation stall at day three?</h1>
      <p>The most common cause is temperature drop at night; the culture is not dead, just dormant, and moving the jar somewhere stable usually restarts activity within a day.</p>
      <p>{PROSE3}</p>
    </article></div>
    <div class="vote-widgets">▲ 213 ▼ share edit flag</div>
    <div class="related-questions"><h4>Related</h4><a href="/q/1">Jar lid bulging — dangerous?</a><a href="/q/2">White film on brine</a></div>
    </body></html>""",
    ["dormant, and moving the jar", PROSE3],
    ["share edit flag", "White film on brine"],
)

fx(
    "longform-with-everything",
    f"""<html><body>
    <nav><a href="/">Home</a> <a href="/longreads">Longreads</a> <a href="/podcast">Podcast</a> <a href="/about">About</a></nav>
    <div class="cookie-consent">This site uses cookies to improve your experience. Manage preferences.</div>
    <header><h1>The Weekly Meridian</h1></header>
    <main><div id="story"><article>
      <h1>Four hundred miles of fence</h1>
      <p>{PROSE}</p>
      <p>{PROSE2}</p>
      <p>{PROSE3}</p>
      <blockquote>We measured twice and still came up a post short, every single mile.</blockquote>
      <p>By the third week the crew had stopped using the maps at all, trusting the ridgeline more than the survey, and the fence is straighter for it.</p>
    </article></div></main>
    <aside class="sidebar"><h4>Most read</h4><ol><li><a href="/1">The lighthouse keeper's ledger</a></li><li><a href="/2">Salt roads</a></li></ol><div class="promo">Gift a subscription — holiday offer.</div></aside>
    <section class="comments"><h3>Comments</h3><div class="comment"><p>Beautiful piece, subscribed immediately!</p></div></section>
    <footer><p>© 2026 The Weekly Meridian. All rights reserved. <a href="/privacy">Privacy</a> <a href="/terms">Terms</a></p></footer>
    </body></html>""",
    [
        PROSE,
        PROSE2,
        PROSE3,
        "came up a post short",
        "trusting the ridgeline more than the survey",
    ],
    [
        "Manage preferences",
        "lighthouse keeper",
        "Gift a subscription",
        "subscribed immediately",
    ],
)


fx(
    "rtl-arabic-article",
    f"""<html dir="rtl" lang="ar"><body>
    <nav><a href="/">الرئيسية</a> <a href="/news">الأخبار</a> <a href="/sports">الرياضة</a></nav>
    <main><article>
      <h1>افتتاح المكتبة الجديدة</h1>
      <p>افتتحت البلدية المكتبة العامة الجديدة بعد ثلاث سنوات من البناء، وتضم القاعة الرئيسية أكثر من مئة ألف كتاب، إضافة إلى قاعات للدراسة والمحاضرات.</p>
      <p>وقال مدير المكتبة إن ساعات العمل ستمتد حتى منتصف الليل خلال فترة الامتحانات، استجابة لطلبات الطلاب المتكررة في السنوات الماضية.</p>
    </article></main>
    <footer><p>جميع الحقوق محفوظة © 2026 — <a href="/terms">الشروط</a></p></footer>
    </body></html>""",
    ["أكثر من مئة ألف كتاب", "حتى منتصف الليل"],
    ["الرياضة", "جميع الحقوق محفوظة"],
)

fx(
    "data-table-as-main",
    f"""<html><body>
    <nav><a href="/">Home</a> <a href="/stats">Statistics</a></nav>
    <div id="content"><article>
      <h1>Quarterly rainfall by district</h1>
      <p>Totals are station-averaged; districts with fewer than three stations, marked below, carry wider error bars.</p>
      <table><tr><th>District</th><th>Q1</th><th>Q2</th></tr>
      <tr><td>Northfield</td><td>122mm</td><td>88mm</td></tr>
      <tr><td>Harborside</td><td>141mm</td><td>95mm</td></tr>
      <tr><td>Westmoor</td><td>98mm</td><td>67mm</td></tr></table>
      <p>Harborside's total, the highest recorded since the gauge network was rebuilt, reflects two single-day storms rather than a wetter season overall.</p>
    </article></div>
    <aside class="widget"><h4>Weather widget</h4><p>Download our app for live radar and alerts on your phone!</p></aside>
    </body></html>""",
    ["station-averaged", "Harborside", "two single-day storms"],
    ["live radar and alerts"],
)

fx(
    "amp-style-page",
    f"""<html amp><body>
    <header class="amp-header"><button on="tap:sidebar.toggle">☰</button><span>The Wire</span></header>
    <amp-sidebar id="sidebar" layout="nodisplay"><ul><li><a href="/a">Section A</a></li><li><a href="/b">Section B</a></li><li><a href="/c">Section C</a></li></ul></amp-sidebar>
    <main><article>
      <h1>Ferry service resumes</h1>
      <p>{PROSE}</p>
      <p>{PROSE3}</p>
    </article></main>
    <div class="amp-consent"><p>This site uses device storage as described in our policy. Tap to consent.</p></div>
    </body></html>""",
    [PROSE, PROSE3],
    ["Section B", "Tap to consent"],
)

fx(
    "print-view-with-dialog-chrome",
    f"""<html><body>
    <div class="print-toolbar"><button>Print</button><button>Save as PDF</button><label><input type="checkbox">Include images</label></div>
    <div class="print-body"><article>
      <h1>Maintenance bulletin 47</h1>
      <p>{PROSE2}</p>
      <p>{PROSE}</p>
    </article></div>
    <div class="print-footer">Printed from example.com — page 1 of 1 — this copy is for personal use only.</div>
    </body></html>""",
    [PROSE2, PROSE],
    ["Save as PDF", "personal use only"],
)


fx(
    "infinite-scroll-stub",
    f"""<html><body>
    <nav><a href="/">Home</a> <a href="/feed">Feed</a> <a href="/trending">Trending</a> <a href="/live">Live</a> <a href="/video">Video</a></nav>
    <div class="app-shell">
      <div class="story-card"><article>
        <h1>Reservoir reopens to anglers</h1>
        <p>{PROSE3}</p>
      </article></div>
      <div class="feed-placeholder"><p>Loading more stories…</p><div class="spinner"></div></div>
      <div class="feed-placeholder"><p>Loading more stories…</p><div class="spinner"></div></div>
      <div class="feed-placeholder"><p>Loading more stories…</p><div class="spinner"></div></div>
    </div>
    <div class="app-banner"><p>Reading in the app is faster. Open this story in the app for the full experience and offline access.</p><button>Open app</button></div>
    <footer><p>Trending now: ten recipes, five gadgets, one weird trick that actually works, celebrity news, sports scores.</p></footer>
    </body></html>""",
    [PROSE3],
    ["Loading more stories", "Open this story in the app", "one weird trick"],
)

fx(
    "article-split-across-siblings-with-ads",
    f"""<html><body>
    <header><h1>The Morning Dispatch</h1></header>
    <div id="story-body">
      <div class="story-part"><p>{PROSE}</p></div>
      <div class="ad-slot"><p>ADVERTISEMENT — Switch today and save forty percent on your first year, cancel anytime, terms apply.</p></div>
      <div class="story-part"><p>{PROSE2}</p></div>
      <div class="ad-slot"><p>Sponsored: the sedan critics call surprisingly affordable, now with zero-percent financing.</p></div>
      <div class="story-part"><p>{PROSE3}</p></div>
    </div>
    <aside class="sidebar"><h4>Don't miss</h4><ul><li><a href="/x">Quiz: which district are you?</a></li><li><a href="/y">Photos of the week</a></li></ul></aside>
    </body></html>""",
    [PROSE, PROSE2, PROSE3],
    ["cancel anytime", "zero-percent financing", "which district are you"],
)

fx(
    "cjk-article-no-ascii-commas",
    """<html lang="ja"><body>
    <nav><a href="/">ホーム</a> <a href="/news">ニュース</a> <a href="/sports">スポーツ</a> <a href="/weather">天気</a></nav>
    <main><article>
      <h1>新しい図書館が開館</h1>
      <p>市は三年間の工事を経て新しい中央図書館を開館した、館内には十万冊を超える蔵書があり、閲覧室と講義室も備えている。開館初日には千人以上の市民が訪れ、関係者は想定を上回る反応だと述べた。</p>
      <p>館長によると、試験期間中は開館時間を深夜まで延長する予定で、学生からの長年の要望に応えた形だという。周辺の駐輪場も拡張され、通学路の安全対策も同時に進められた。</p>
    </article></main>
    <aside class="related"><h4>関連記事</h4><ul><li><a href="/a">新しい市民プールが完成</a></li><li><a href="/b">駅前再開発の計画発表</a></li></ul></aside>
    <footer><p>© 2026 例ニュース社 — <a href="/terms">利用規約</a> <a href="/privacy">プライバシー</a></p></footer>
    </body></html>""",
    ["十万冊を超える蔵書", "開館時間を深夜まで延長"],
    ["スポーツ", "新しい市民プールが完成", "利用規約"],
)

fx(
    "comments-longer-than-article",
    f"""<html><body>
    <nav><a href="/">Home</a> <a href="/blog">Blog</a></nav>
    <div class="post-wrap"><article>
      <h1>A short note on backups</h1>
      <p>{PROSE3}</p>
    </article></div>
    <div class="discussion" id="disqus_thread">
      <h3>89 replies</h3>
      <div class="comment"><p>I lost a decade of photos before I learned this lesson, and now I keep three copies on two media with one offsite, exactly as the old rule says.</p></div>
      <div class="comment"><p>Disagree with the premise entirely, cloud providers already replicate everything, so personal backups are mostly theater for most people these days.</p></div>
      <div class="comment"><p>The restore test is the part everyone skips, a backup you have never restored from is a hope, not a plan, as my old sysadmin used to say.</p></div>
      <div class="comment"><p>We ran into silent corruption once, checksums caught it, which is why I schedule a verify pass monthly on every archive drive in the house.</p></div>
    </div>
    </body></html>""",
    [PROSE3],
    ["mostly theater", "hope, not a plan", "verify pass monthly"],
)


fx(
    "neutral-classnames-no-article-tag",
    f"""<html><body>
    <div class="row top"><a href="/">Home</a> <a href="/a">World</a> <a href="/b">Local</a> <a href="/c">Money</a> <a href="/d">Life</a> <a href="/e">More</a></div>
    <div class="row mid">
      <div class="col left"><ul><li><a href="/p">Power cuts expected</a></li><li><a href="/q">Bridge toll rises</a></li><li><a href="/r">Derby ends level</a></li></ul></div>
      <div class="col center">
        <h2>Water main replaced ahead of schedule</h2>
        <p>{PROSE}</p>
        <p>{PROSE2}</p>
      </div>
      <div class="col right"><p>Hot deal: two seasons of streaming, one low price, this week only.</p></div>
    </div>
    <div class="row bottom"><p>Sign up and never miss a story again, delivered daily.</p></div>
    </body></html>""",
    [PROSE, PROSE2],
    ["Bridge toll rises", "one low price", "never miss a story"],
)

fx(
    "short-note-vs-long-replies-neutral-names",
    f"""<html><body>
    <div class="wrap">
      <div class="note">
        <h1>A short note on backups</h1>
        <p>{PROSE3}</p>
      </div>
      <div class="replies">
        <h3>Replies</h3>
        <div class="reply"><p>I lost a decade of photos before I learned this, and now I keep three copies, on two media, with one offsite, exactly as the old rule says.</p></div>
        <div class="reply"><p>Disagree with the premise, cloud providers replicate everything, so personal backups are mostly theater for most people, most of the time.</p></div>
        <div class="reply"><p>The restore test is the part everyone skips, a backup you never restored is a hope, not a plan, as my first sysadmin liked to say.</p></div>
      </div>
    </div>
    </body></html>""",
    [PROSE3],
    ["mostly theater", "hope, not a plan"],
)


fx(
    "comma-dense-tag-cloud-chrome",
    f"""<html><body>
    <div class="row-a"><p>Topics: politics, economy, sports, culture, science, health, travel, food, books, film, music, art, tech, cars, homes, weather, opinion, letters, obituaries, puzzles</p></div>
    <div class="row-b"><h1>Vote delayed</h1><p>{PROSE}</p></div>
    <div class="row-c"><p>More: jobs, courses, dating, deals, horoscopes, lottery results, crosswords, comics, recipes, quizzes</p></div>
    </body></html>""",
    [PROSE],
    ["politics, economy", "horoscopes, lottery"],
)


fx(
    "positive-vocab-trap-chrome",
    f"""<html><body>
    <div class="content-nav"><a href="/a">World</a> <a href="/b">Local</a> <a href="/c">Sport</a> <a href="/d">Money</a> <a href="/e">More</a></div>
    <div class="article-footer"><p>All rights reserved, reproduction prohibited, please contact licensing for syndication, quotes, and reprints of this article.</p></div>
    <div class="story-main"><h1>Vote delayed</h1><p>{PROSE}</p></div>
    </body></html>""",
    [PROSE],
    ["World", "reproduction prohibited"],
)


def _score(name, html, main_blocks, junk_blocks):
    text = extract_main(html.encode("utf-8"), 100)
    flat = " ".join(text.split())
    hits = sum(1 for b in main_blocks if " ".join(b.split()) in flat)
    leaks = sum(1 for b in junk_blocks if " ".join(b.split()) in flat)
    recall = hits / len(main_blocks)
    precision = (
        1.0 if not junk_blocks else 1.0 - leaks / len(junk_blocks)
    )
    f1 = (
        0.0
        if precision + recall == 0
        else 2 * precision * recall / (precision + recall)
    )
    return recall, precision, f1


def test_eval_set_shape():
    assert len(FIXTURES) >= 30
    names = [f[0] for f in FIXTURES]
    assert len(set(names)) == len(names)


def test_extraction_f1_on_realistic_pages():
    scores = {}
    for name, html, main, junk in FIXTURES:
        scores[name] = _score(name, html, main, junk)
    mean_f1 = sum(s[2] for s in scores.values()) / len(scores)
    report = "\n".join(
        f"  {n:32s} R={r:.2f} P={p:.2f} F1={f:.2f}"
        for n, (r, p, f) in sorted(scores.items())
    )
    # aggregate pin: the heuristic must stay good on realistic layouts
    assert mean_f1 >= 0.9, f"mean F1 {mean_f1:.3f} < 0.9\n{report}"
    # per-page floor: no layout may collapse entirely (raised from 0.5
    # in round 6 once the adversarial shapes were handled)
    floor = min(s[2] for s in scores.values())
    assert floor >= 0.7, f"worst page F1 {floor:.2f} < 0.7\n{report}"
    # recall floor: main prose must essentially never be dropped
    mean_recall = sum(s[0] for s in scores.values()) / len(scores)
    assert mean_recall >= 0.9, f"mean recall {mean_recall:.3f}\n{report}"
