"""Ordered user-agent regex bank, re-expressed from the public-domain
uap-core dataset (the same data the ES user_agent processor ships), and
the parser that evaluates a bank in Python.

Semantics follow ua-parser: the list is ordered, FIRST match wins, and
matching is an unanchored regex search.  Specific families (bots, consoles,
smart-TV shells, in-app webviews, engine-forks) therefore precede the
generic engines (Chrome / Firefox / Safari) whose tokens they embed.

Entry shape: ``(family, regex)``.
  - ``family`` may contain ``$1`` — replaced by capture group 1 (uap-core
    family_replacement).  For those entries version groups start at 2;
    otherwise every capture group is a version component, joined with '.'.
  - The reference runs the bank on Java regex, the parser below on Python
    ``re``, so regexes use the syntax both share: no named groups, no
    conditionals.  The parser compiles them with ``re.ASCII``, since
    Java's ``\\d``, ``\\w``, ``\\s`` and ``(?i)`` are ASCII-only by default.
    Differences that stay: Java's ``.`` and ``$`` also treat ``\\r``,
    ``\\u0085``, ``\\u2028`` and ``\\u2029`` as line terminators (Python's
    only ``\\n``), and Java 17's ``\\b`` counts non-ASCII letters as word
    characters.
"""

import hashlib
import re
from typing import NamedTuple

from ..functions.lru import LRU

# --------------------------------------------------------------- browsers --
UA_BROWSERS: list[tuple[str, str]] = [
    # --- explicit crawlers / bots (before everything: crawler UAs embed
    # full Chrome/Safari token sequences) -----------------------------------
    ("Googlebot-Image", r"Googlebot-Image/(\d+)\.(\d+)"),
    ("Googlebot-News", r"Googlebot-News"),
    ("Googlebot-Video", r"Googlebot-Video/(\d+)\.(\d+)"),
    ("Googlebot", r"Googlebot/(\d+)\.(\d+)"),
    ("Google-InspectionTool", r"Google-InspectionTool/(\d+)\.(\d+)"),
    ("AdsBot-Google", r"AdsBot-Google"),
    ("APIs-Google", r"APIs-Google"),
    ("Mediapartners-Google", r"Mediapartners-Google"),
    ("Storebot-Google", r"Storebot-Google/(\d+)\.(\d+)"),
    ("bingbot", r"bingbot/(\d+)\.(\d+)"),
    ("BingPreview", r"BingPreview/(\d+)\.(\d+)"),
    ("adidxbot", r"adidxbot/(\d+)\.(\d+)"),
    ("Baiduspider-image", r"Baiduspider-image[+ /]*(\d+)?\.?(\d+)?"),
    ("Baiduspider", r"Baiduspider[+ /]*(\d+)?\.?(\d+)?"),
    ("YandexBot", r"YandexBot/(\d+)\.(\d+)"),
    ("YandexImages", r"YandexImages/(\d+)\.(\d+)"),
    ("YandexMobileBot", r"YandexMobileBot/(\d+)\.(\d+)"),
    ("DuckDuckBot", r"DuckDuckBot(?:-Https)?/(\d+)\.(\d+)"),
    ("DuckDuckGo-Favicons-Bot", r"DuckDuckGo-Favicons-Bot/(\d+)\.(\d+)"),
    ("Applebot", r"Applebot/(\d+)\.(\d+)"),
    ("SeznamBot", r"SeznamBot/(\d+)\.(\d+)"),
    ("Sogou web spider", r"Sogou web spider/(\d+)\.(\d+)"),
    ("Sogou Pic Spider", r"Sogou Pic Spider/(\d+)\.(\d+)"),
    ("Exabot", r"Exabot/(\d+)\.(\d+)"),
    ("MojeekBot", r"MojeekBot/(\d+)\.(\d+)"),
    ("PetalBot", r"PetalBot"),
    ("Bytespider", r"Bytespider"),
    ("GPTBot", r"GPTBot/(\d+)\.(\d+)"),
    ("ChatGPT-User", r"ChatGPT-User/(\d+)\.(\d+)"),
    ("CCBot", r"CCBot/(\d+)\.(\d+)"),
    ("ClaudeBot", r"ClaudeBot/(\d+)\.(\d+)"),
    ("PerplexityBot", r"PerplexityBot/(\d+)\.(\d+)"),
    ("Amazonbot", r"Amazonbot/(\d+)\.(\d+)"),
    ("AhrefsBot", r"AhrefsBot/(\d+)\.(\d+)"),
    ("SemrushBot", r"SemrushBot(?:-[A-Za-z]+)?/(\d+)(?:\.(\d+))?"),
    ("MJ12bot", r"MJ12bot/v?(\d+)\.(\d+)\.?(\d+)?"),
    ("DotBot", r"DotBot/(\d+)\.(\d+)"),
    ("BLEXBot", r"BLEXBot/(\d+)\.(\d+)"),
    ("DataForSeoBot", r"DataForSeoBot/(\d+)\.(\d+)"),
    ("serpstatbot", r"serpstatbot/(\d+)\.(\d+)"),
    ("rogerbot", r"rogerbot/(\d+)\.(\d+)"),
    ("archive.org_bot", r"archive\.org_bot"),
    ("ia_archiver", r"ia_archiver"),
    ("Slackbot", r"Slackbot(?:-LinkExpanding)? ?(\d+)?\.?(\d+)?"),
    ("Twitterbot", r"Twitterbot/(\d+)\.(\d+)"),
    ("FacebookBot", r"facebookexternalhit/(\d+)\.(\d+)"),
    ("Facebook Crawler", r"facebookcatalog/(\d+)\.(\d+)"),
    ("LinkedInBot", r"LinkedInBot/(\d+)\.(\d+)"),
    ("Pinterestbot", r"Pinterest(?:bot)?/(\d+)\.(\d+)"),
    ("redditbot", r"redditbot/(\d+)\.(\d+)"),
    ("Discordbot", r"Discordbot/(\d+)\.(\d+)"),
    ("TelegramBot", r"TelegramBot"),
    ("WhatsApp", r"WhatsApp/(\d+)\.(\d+)\.?(\d+)?"),
    ("SkypeUriPreview", r"SkypeUriPreview"),
    ("Embedly", r"Embedly"),
    ("Quora Link Preview", r"Quora Link Preview/(\d+)\.(\d+)"),
    ("Google-Read-Aloud", r"Google-Read-Aloud"),
    ("Google Favicon", r"Google Favicon"),
    ("Google Web Preview", r"Google Web Preview"),
    ("Chrome-Lighthouse", r"Chrome-Lighthouse"),
    ("GoogleOther", r"GoogleOther"),
    # monitoring / uptime probes
    ("PingdomBot", r"Pingdom\.com_bot_version_(\d+)\.(\d+)"),
    ("PingdomTMS", r"PingdomTMS/(\d+)\.(\d+)"),
    ("UptimeRobot", r"UptimeRobot/(\d+)\.(\d+)"),
    ("StatusCake", r"StatusCake"),
    ("Site24x7", r"Site24x7"),
    ("NewRelicPinger", r"NewRelicPinger/(\d+)\.(\d+)"),
    ("Datadog Agent", r"Datadog Agent/(\d+)\.(\d+)"),
    ("GoogleStackdriverMonitoring",
     r"GoogleStackdriverMonitoring-UptimeChecks"),
    ("Feedly", r"Feedly/(\d+)\.(\d+)"),
    ("Feedfetcher-Google", r"Feedfetcher-Google"),
    ("Scrapy", r"Scrapy/(\d+)\.(\d+)"),
    # generic bot catch-alls (explicit families above win first; still
    # BEFORE browsers so "...Chrome/99 compatible; FooBot/1.2" -> FooBot,
    # matching ua-parser's early spider tier)
    ("$1", r"\b([A-Za-z][A-Za-z0-9_.-]{1,40}[Bb]ot)/(\d+)\.(\d+)"),
    ("$1", r"\b([A-Za-z][A-Za-z0-9_.-]{1,40}[Bb]ot)\b"),
    ("$1", r"\b([A-Za-z][A-Za-z0-9_-]{1,40}[Ss]pider)\b"),
    ("$1", r"\b([A-Za-z][A-Za-z0-9_-]{1,40}[Cc]rawler)\b"),
    # --- headless / automation -------------------------------------------
    ("HeadlessChrome", r"HeadlessChrome/(\d+)\.(\d+)\.(\d+)"),
    ("PhantomJS", r"PhantomJS/(\d+)\.(\d+)\.?(\d+)?"),
    ("SlimerJS", r"SlimerJS/(\d+)\.(\d+)"),
    ("Electron", r"Electron/(\d+)\.(\d+)\.(\d+)"),
    # --- programmatic HTTP clients ---------------------------------------
    ("curl", r"curl/(\d+)\.(\d+)\.?(\d+)?"),
    ("Wget", r"[Ww]get/(\d+)\.(\d+)\.?(\d+)?"),
    ("Python Requests", r"python-requests/(\d+)\.(\d+)"),
    ("aiohttp", r"aiohttp/(\d+)\.(\d+)"),
    ("httpx", r"python-httpx/(\d+)\.(\d+)"),
    ("Python-urllib", r"Python-urllib/(\d+)\.(\d+)"),
    ("Go-http-client", r"Go-http-client/(\d+)\.?(\d+)?"),
    ("okhttp", r"okhttp/(\d+)\.(\d+)\.?(\d+)?"),
    ("Apache-HttpClient", r"Apache-HttpClient/(\d+)\.(\d+)\.?(\d+)?"),
    ("Java", r"Java/(\d+)\.(\d+)"),
    ("axios", r"axios/(\d+)\.(\d+)\.?(\d+)?"),
    ("node-fetch", r"node-fetch/?(\d+)?\.?(\d+)?"),
    ("Node.js", r"node\.js/(\d+)\.(\d+)"),
    ("PostmanRuntime", r"PostmanRuntime/(\d+)\.(\d+)"),
    ("insomnia", r"insomnia/(\d+)\.(\d+)"),
    ("Dart", r"Dart/(\d+)\.(\d+)"),
    ("GuzzleHttp", r"GuzzleHttp/(\d+)\.?(\d+)?"),
    ("libwww-perl", r"libwww-perl/(\d+)\.(\d+)"),
    ("PHP", r"PHP/(\d+)\.(\d+)"),
    ("Ruby", r"\bRuby\b"),
    # --- consoles ---------------------------------------------------------
    ("PlayStation 5 Browser", r"PlayStation 5/(\d+)\.(\d+)"),
    ("PlayStation 4 Browser", r"PlayStation 4[ /](\d+)\.(\d+)"),
    ("PlayStation 3 Browser", r"PLAYSTATION 3[;/ ](\d+)\.(\d+)"),
    ("PlayStation Vita Browser", r"PlayStation Vita (\d+)\.(\d+)"),
    ("NetFront NX", r"Nintendo (?:Switch|3DS|WiiU|Wii)"),
    # --- smart TV / streaming shells -------------------------------------
    ("Roku", r"Roku/DVP-(\d+)\.(\d+)"),
    ("CrKey", r"CrKey(?:[ /]armv7l)?[ /](\d+)\.(\d+)"),
    ("HbbTV", r"HbbTV/(\d+)\.(\d+)\.(\d+)"),
    ("LG Browser", r"LG Browser/(\d+)\.(\d+)"),
    ("NetCast", r"NetCast\.TV-(\d+)\.(\d+)"),
    ("Espial", r"Espial/(\d+)\.(\d+)"),
    ("Kylo", r"Kylo/(\d+)\.(\d+)"),
    ("AppleTV", r"AppleTV(?:\d+,\d+)?/(\d+)\.(\d+)"),
    # --- in-app webviews / social apps -----------------------------------
    ("Facebook", r"FBAV/(\d+)\.(\d+)"),
    ("Facebook", r"FBAN/FB(?:IOS|4A)"),
    ("Facebook Messenger", r"FB_IAB/MESSENGER"),
    ("Instagram", r"Instagram[ /](\d+)\.(\d+)"),
    ("WeChat", r"MicroMessenger/(\d+)\.(\d+)"),
    ("QQ", r"\bQQ/(\d+)\.(\d+)"),
    ("Line", r"\bLine/(\d+)\.(\d+)"),
    ("TikTok", r"musical_ly[ /_](\d+)\.(\d+)"),
    ("TikTok", r"BytedanceWebview"),
    ("Snapchat", r"Snapchat[ /](\d+)\.(\d+)"),
    ("Twitter", r"TwitterAndroid"),
    ("Google", r"\bGSA/(\d+)\.(\d+)\.?(\d+)?"),
    ("DuckDuckGo Mobile", r"DuckDuckGo/(\d+)"),
    ("Firefox Focus", r"Focus/(\d+)\.(\d+)"),
    ("LinkedInApp", r"LinkedInApp"),
    # --- engine forks & vendor browsers (before generic Chrome/Safari) ---
    ("Opera Mini", r"Opera Mini/(?:att/)?(\d+)\.(\d+)"),
    ("Opera Mobile", r"Opera Mobi.*?Version/(\d+)\.(\d+)"),
    ("Opera Mobile", r"Mobile Safari/[0-9.]+ OPR/(\d+)\.(\d+)"),
    ("Opera GX", r"\bOPX/(\d+)\.(\d+)"),
    ("Opera Neon", r"MMS/(\d+)\.(\d+)"),
    ("Opera Touch", r"OPT/(\d+)\.?(\d+)?"),
    ("Opera", r"OPR/(\d+)\.(\d+)\.?(\d+)?"),
    ("Opera Tablet", r"Opera Tablet.*?Version/(\d+)\.(\d+)"),
    ("Opera", r"Opera[ /](\d+)\.(\d+)"),
    ("Opera", r"Opera.*?Version/(\d+)\.(\d+)"),
    ("Samsung Internet", r"SamsungBrowser/(\d+)\.(\d+)"),
    ("UC Browser", r"UC ?Browser/(\d+)\.(\d+)\.(\d+)"),
    ("UC Browser", r"UCWEB/?(\d+)\.(\d+)"),
    ("Yandex Browser", r"YaBrowser/(\d+)\.(\d+)\.?(\d+)?"),
    ("QQ Browser Mini", r"MQQBrowser/Mini(\d+)\.(\d+)"),
    ("QQ Browser Mobile", r"MQQBrowser/(\d+)\.(\d+)"),
    ("QQ Browser", r"QQBrowser/(\d+)\.(\d+)"),
    ("Vivaldi", r"Vivaldi/(\d+)\.(\d+)"),
    ("Brave", r"Brave(?: Chrome)?/(\d+)\.(\d+)\.?(\d+)?"),
    ("Whale", r"Whale/(\d+)\.(\d+)"),
    ("Huawei Browser", r"HuaweiBrowser/(\d+)\.(\d+)"),
    ("MiuiBrowser", r"MiuiBrowser/(\d+)\.(\d+)"),
    ("HeyTapBrowser", r"HeyTapBrowser/(\d+)\.(\d+)"),
    ("OppoBrowser", r"OppoBrowser/(\d+)\.(\d+)"),
    ("VivoBrowser", r"VivoBrowser/(\d+)\.(\d+)"),
    ("Amazon Silk", r"Silk/(\d+)\.(\d+)"),
    ("Maxthon", r"Maxthon[ /](\d+)\.(\d+)"),
    ("Puffin", r"Puffin/(\d+)\.(\d+)"),
    ("Sleipnir", r"Sleipnir/(\d+)\.(\d+)"),
    ("Coc Coc", r"coc_coc_browser/(\d+)\.(\d+)"),
    ("Sogou Explorer", r"\bSE (\d+)\.(\d+)"),
    ("Baidu Browser", r"\bBIDUBrowser[ /](\d+)\.(\d+)"),
    ("Baidu Box App", r"baiduboxapp/(\d+)\.(\d+)"),
    ("2345 Explorer", r"2345Explorer/(\d+)\.(\d+)"),
    ("360 Browser", r"\bQihooBrowser|\b360Browser|\bQIHU THEWORLD"),
    ("Iron", r"Iron/(\d+)\.(\d+)"),
    ("Comodo Dragon", r"Comodo_Dragon/(\d+)\.(\d+)"),
    ("Avast Secure Browser", r"Avast/(\d+)\.(\d+)"),
    ("AVG Secure Browser", r"AVG/(\d+)\.(\d+)"),
    ("CCleaner Browser", r"CCleaner/(\d+)\.(\d+)"),
    ("Ecosia", r"Ecosia [a-z]+@(\d+)\.(\d+)"),
    ("Kindle", r"Kindle/(\d+)\.(\d+)"),
    ("NetFront", r"NetFront/(\d+)\.(\d+)"),
    ("Obigo", r"Obigo[ /]([A-Z0-9]+)"),
    ("Dolfin", r"Dolfin/(\d+)\.(\d+)"),
    ("BlackBerry WebKit", r"BB10.*?Version/(\d+)\.(\d+)"),
    ("BlackBerry", r"BlackBerry[0-9]*/(\d+)\.(\d+)"),
    ("Nokia Browser", r"NokiaBrowser/(\d+)\.(\d+)"),
    ("Nokia OSS Browser", r"OSSProxy (\d+)\.(\d+)"),
    ("IE Mobile", r"IEMobile[ /](\d+)\.(\d+)"),
    ("Edge Mobile", r"Edg(?:A|iOS)/(\d+)\.(\d+)\.?(\d+)?"),
    ("Edge", r"Edge?/(\d+)\.(\d+)\.?(\d+)?"),
    # --- Gecko forks & desktop alternatives ------------------------------
    ("Pale Moon", r"PaleMoon/(\d+)\.(\d+)\.?(\d+)?"),
    ("Waterfox", r"Waterfox/(\d+)\.(\d+)"),
    ("Basilisk", r"Basilisk/(\d+)"),
    ("SeaMonkey", r"SeaMonkey/(\d+)\.(\d+)\.?([0-9a-z]+)?"),
    ("K-Meleon", r"K-Meleon/(\d+)\.(\d+)"),
    ("Thunderbird", r"Thunderbird/(\d+)\.(\d+)"),
    ("Camino", r"Camino/(\d+)\.(\d+)"),
    ("Fennec", r"Fennec/(\d+)\.(\d+)"),
    ("Konqueror", r"[Kk]onqueror/(\d+)\.(\d+)"),
    ("Epiphany", r"Epiphany/(\d+)\.(\d+)"),
    ("Midori", r"Midori/(\d+)\.(\d+)"),
    ("Falkon", r"Falkon/(\d+)\.(\d+)"),
    ("QupZilla", r"QupZilla/(\d+)\.(\d+)"),
    ("Otter", r"Otter/(\d+)\.(\d+)"),
    ("NetSurf", r"NetSurf/(\d+)\.(\d+)"),
    ("Dillo", r"Dillo/(\d+)\.(\d+)"),
    ("iCab", r"iCab[ /](\d+)\.(\d+)"),
    ("OmniWeb", r"OmniWeb/v?(\d+)\.?(\d+)?"),
    ("Lynx", r"Lynx/(\d+)\.(\d+)\.?(\d+)?"),
    ("ELinks", r"ELinks/(\d+)\.(\d+)"),
    ("Links", r"Links \((\d+)\.(\d+)"),
    ("w3m", r"w3m/(\d+)\.(\d+)"),
    # --- generic engines (last: everything above embeds their tokens) ----
    ("Chrome Mobile iOS", r"CriOS/(\d+)\.(\d+)\.(\d+)"),
    ("Chrome Mobile WebView", r"; wv\).+Chrome/(\d+)\.(\d+)\.(\d+)"),
    ("Chrome Mobile", r"Chrome/(\d+)\.(\d+)\.(\d+)[0-9.]* Mobile"),
    ("Chromium", r"Chromium/(\d+)\.(\d+)\.(\d+)"),
    ("Chrome", r"Chrome/(\d+)\.(\d+)\.(\d+)(?:\.(\d+))?"),
    ("Firefox iOS", r"FxiOS/(\d+)\.(\d+)"),
    ("Firefox Mobile", r"(?:Mobile|Tablet).*?Firefox/(\d+)\.(\d+)"),
    ("Firefox", r"Firefox/(\d+)\.(\d+)(?:\.(\d+))?"),
    ("Mobile Safari UI/WKWebView", r"\(i(?:Phone|Pad|Pod)[^)]*\)(?!.*Safari)"),
    ("Mobile Safari", r"Version/(\d+)\.(\d+)(?:\.(\d+))?.*Mobile.*Safari/"),
    ("Safari", r"Version/(\d+)\.(\d+)(?:\.(\d+))? .*Safari/"),
    ("Apple Mail", r"AppleWebKit/.*\(KHTML, like Gecko\)$"),
    ("IE", r"Trident/.*rv[ :](\d+)\.(\d+)"),
    ("IE", r"MSIE (\d+)\.(\d+)"),
]

# --------------------------------------------------------------------- OS --
UA_OS: list[tuple[str, str]] = [
    ("Windows Phone", r"Windows Phone (?:OS )?(\d+)\.(\d+)"),
    ("Windows Mobile", r"Windows Mobile"),
    ("Windows CE", r"Windows CE"),
    ("KaiOS", r"KAIOS/(\d+)\.(\d+)"),
    ("Chrome OS", r"CrOS [a-z0-9_]+ (\d+)\.(\d+)\.(\d+)"),
    ("Chromecast", r"CrKey(?:[ /]armv7l)?[ /](\d+)\.(\d+)"),
    ("webOS", r"Web0S"),
    ("webOS", r"(?:web|hpw)OS/(\d+)\.(\d+)"),
    ("Tizen", r"Tizen[ /](\d+)\.(\d+)"),
    ("KindleFire", r"Kindle Fire Build"),
    ("HarmonyOS", r"HarmonyOS"),
    ("Android", r"Android[ -](\d+)\.?(\d+)?"),
    ("iOS", r"iPhone OS (\d+)_(\d+)"),
    ("iOS", r"CPU OS (\d+)_(\d+)"),
    ("iOS", r"iOS (\d+)\.(\d+)"),
    ("tvOS", r"tvOS[ /](\d+)\.?(\d+)?"),
    ("ATV OS X", r"AppleTV"),
    ("WatchOS", r"Watch[0-9]*,[0-9]"),
    ("Mac OS X", r"Mac OS X (\d+)[_.](\d+)(?:[_.](\d+))?"),
    ("Mac OS X", r"Macintosh"),
    ("Windows", r"Windows NT (\d+)\.(\d+)"),
    ("Windows", r"Windows 98"),
    ("Windows", r"Windows 95"),
    ("PlayStation", r"PlayStation \d|PLAYSTATION \d|PlayStation Vita"),
    ("Nintendo", r"Nintendo (?:Switch|3DS|WiiU|Wii)"),
    ("BlackBerry OS", r"BB10|BlackBerry"),
    ("Symbian OS", r"SymbianOS/(\d+)\.(\d+)"),
    ("Symbian OS", r"Symbian|Series ?60"),
    ("Bada", r"Bada/(\d+)\.(\d+)"),
    ("MeeGo", r"MeeGo"),
    ("Maemo", r"Maemo"),
    ("Roku", r"Roku/DVP"),
    ("Firefox OS", r"\(Mobile; rv:"),
    ("Solaris", r"SunOS"),
    ("FreeBSD", r"FreeBSD"),
    ("OpenBSD", r"OpenBSD"),
    ("NetBSD", r"NetBSD"),
    ("DragonFly", r"DragonFly"),
    ("Ubuntu", r"Ubuntu"),
    ("Kubuntu", r"Kubuntu"),
    ("Fedora", r"Fedora"),
    ("Debian", r"Debian"),
    ("Linux Mint", r"Linux Mint"),
    ("Arch Linux", r"Arch ?Linux"),
    ("Gentoo", r"Gentoo"),
    ("openSUSE", r"openSUSE|SUSE"),
    ("CentOS", r"CentOS"),
    ("Red Hat", r"Red Hat"),
    ("Mageia", r"Mageia"),
    ("Slackware", r"Slackware"),
    ("Android", r"Android"),
    ("Linux", r"Linux"),
    ("Windows", r"Windows"),
]

# uap-core maps Windows NT kernel versions to marketing versions
WINDOWS_NT_VERSIONS = {"10.0": "10", "6.3": "8.1", "6.2": "8",
                       "6.1": "7", "6.0": "Vista", "5.2": "XP",
                       "5.1": "XP", "5.0": "2000"}

# ---------------------------------------------------------------- devices --
# Ordered (device_name, regex); name may contain $1.  None-regex rows with
# literal names mirror ua-parser's device_replacement strings.
UA_DEVICES: list[tuple[str, str]] = [
    ("Spider", r"(?i)\bbot\b|[a-z0-9_-]bot[/ ;)]|spider|crawler|"
               r"facebookexternalhit|slurp|HeadlessChrome|PhantomJS"),
    ("iPhone", r"iPhone"),
    ("iPad", r"iPad"),
    ("iPod", r"iPod"),
    ("Apple TV", r"AppleTV|Apple TV"),
    ("Chromecast", r"CrKey"),
    ("Roku", r"Roku/DVP"),
    ("Samsung SMART-TV", r"SMART-TV"),
    ("LG TV", r"Web0S.*?TV|NetCast\.TV"),
    ("PlayStation 5", r"PlayStation 5"),
    ("PlayStation 4", r"PlayStation 4"),
    ("PlayStation 3", r"PLAYSTATION 3"),
    ("PlayStation Vita", r"PlayStation Vita"),
    ("Xbox", r"Xbox"),
    ("Nintendo Switch", r"Nintendo Switch"),
    ("Nintendo 3DS", r"Nintendo 3DS"),
    ("Nintendo Wii U", r"Nintendo WiiU"),
    ("Nintendo Wii", r"Nintendo Wii"),
    ("Kindle Fire", r"\b(KF[A-Z]{2,8})\b"),
    ("Kindle", r"Kindle"),
    ("Samsung $1", r"\b(SM-[A-Za-z0-9]+)\b"),
    ("Samsung $1", r"\b(GT-[A-Za-z0-9]+)\b"),
    ("$1", r"\b(Pixel [0-9][0-9a-z]*(?: (?:XL|Pro|Fold))?)\b"),
    ("$1", r"\b(Nexus [0-9A-Za-z]+)\b"),
    ("Mac", r"Macintosh"),
    ("Generic Smartphone", r"Android.*Mobile|Windows Phone|Mobile Safari"),
    ("Generic Tablet", r"Android"),
]


# ES 8 ``extract_device_type``: coarse device class from UA hints; first
# match wins, else "Desktop".
DEVICE_TYPES: list[tuple[str, str]] = [
    ("Robot", r"(?i)bot|spider|crawler|slurp|curl|wget|python-requests|"
              r"urllib|go-http-client|okhttp"),
    ("Tablet", r"iPad|Android(?!.*Mobile)"),
    ("Phone", r"iPhone|Windows Phone|Android.*Mobile"),
    ("Smart TV", r"Smart-?TV|AppleTV|Apple TV|CrKey|Roku/DVP|HbbTV|"
                 r"NetCast\.TV|Web0S.*?TV|BRAVIA|VIERA|GoogleTV"),
]


# ------------------------------------------------------ regex_file loader --
def load_uap_regexes(path: str) -> dict:
    """Parse a full public uap-core ``regexes.yaml`` (the dataset the ES
    user_agent processor ships; its ``regex_file`` option) into ordered
    parser banks with ua-parser semantics:

      browsers: family = $-template over family_replacement or group(1);
                v1..v4 = vN_replacement ($N) or groups 2..5
      os:       os = os_replacement ($N templates) or group(1);
                os_v1..os_v4 = os_vN_replacement ($N) or groups 2..5
      devices:  device = device_replacement ($N, spaces trimmed) or group(1)

    (python ua-parser user_agent_parser.py Parse* methods are the public
    behavioral contract).  ``regex_flag: i`` becomes an inline ``(?i)``.
    Every regex is compile-checked here, so a bad bank fails at compile.
    """
    import yaml

    with open(path) as fh:
        data = yaml.safe_load(fh)

    def _rx(p):
        rx = p["regex"]
        if p.get("regex_flag"):
            rx = f"(?{p['regex_flag']})" + rx
        re.compile(rx, re.ASCII)  # fail loud on anything the parser rejects
        return rx

    browsers = [{
        "regex": _rx(p),
        "family": p.get("family_replacement"),
        "v": [p.get("v1_replacement"), p.get("v2_replacement"),
              p.get("v3_replacement"), p.get("v4_replacement")],
    } for p in data.get("user_agent_parsers", [])]
    os_list = [{
        "regex": _rx(p),
        "os": p.get("os_replacement"),
        "v": [p.get("os_v1_replacement"), p.get("os_v2_replacement"),
              p.get("os_v3_replacement"), p.get("os_v4_replacement")],
    } for p in data.get("os_parsers", [])]
    devices = [{
        "regex": _rx(p),
        "device": p.get("device_replacement"),
    } for p in data.get("device_parsers", [])]
    return {"browsers": browsers, "os": os_list, "devices": devices}


# ------------------------------------------------- default-bank resolution --
# ES ships the complete uap-core definitions as its DEFAULT user_agent
# bank.  This package bundles no copy of the public regexes.yaml, so the
# default resolves in order:
#   1. $SPARK_GRAFT_UAP_REGEXES           (explicit override)
#   2. <package>/data/regexes.yaml        (drop the public uap-core file
#                                          here to get full-fidelity
#                                          defaults, reference parity)
#   3. the curated ~300-family bank above (UA_BROWSERS/UA_OS/UA_DEVICES)
# A per-processor ``regex_file`` config always wins over all three.
# One bank live at a time.
_BANK_CACHE = LRU(1)


def default_regex_file() -> str | None:
    import os
    cand = os.environ.get("SPARK_GRAFT_UAP_REGEXES")
    if cand and os.path.exists(cand):
        return cand
    bundled = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "data", "regexes.yaml")
    if os.path.exists(bundled):
        return bundled
    return None


def load_uap_regexes_cached(path: str) -> dict:
    """load_uap_regexes memoized on (path, mtime): the yaml parse +
    compile-check of a full bank is ~100 ms and would otherwise be paid
    on every query construction."""
    import os
    key = (path, os.path.getmtime(path))
    banks = _BANK_CACHE.get(key)
    if banks is None:
        banks = _BANK_CACHE[key] = load_uap_regexes(path)
    return banks


# ------------------------------------------------------------- the parser --
class Entry(NamedTuple):
    regex: str
    name: str              # $N template (a literal when it has no $N)
    version: tuple = ()    # parts: capture-group index or $N template
    trim: bool = False     # device_replacement: surrounding spaces trimmed


class Bank(NamedTuple):
    """A bank in the one shape the parser reads.  Plain tuples of strings,
    so it pickles into a UDF closure (workers may not see a regex_file)."""
    browsers: tuple
    os: tuple
    devices: tuple
    blank_version: str | None  # version when every part is empty
    windows_nt: bool           # "Windows" versions via WINDOWS_NT_VERSIONS

    def digest(self) -> str:
        return hashlib.sha1(repr(tuple(self)).encode()).hexdigest()


def _groups(rx: str) -> int:
    return re.compile(rx, re.ASCII).groups


def builtin_bank() -> Bank:
    """The curated bank: a ``$1`` family takes group 1, and every other
    group is a version part; versions whose parts are all empty are ''."""
    def entry(name, rx, start):
        return Entry(rx, name, tuple(range(start, _groups(rx) + 1)))
    return Bank(
        tuple(entry(n, rx, 2 if "$1" in n else 1) for n, rx in UA_BROWSERS),
        tuple(entry(n, rx, 1) for n, rx in UA_OS),
        tuple(Entry(rx, n) for n, rx in UA_DEVICES),
        blank_version="", windows_nt=True)


def file_bank(path: str) -> Bank:
    """A uap-core ``regexes.yaml`` (see load_uap_regexes): group 1 is the
    family slot, versions come from vN templates or groups 2..5, and a
    version whose parts are all empty is None."""
    banks = load_uap_regexes_cached(path)

    def tmpl(v):
        return "$1" if v is None else str(v)

    def entry(e, name):
        n = _groups(e["regex"])
        parts = tuple(str(v) if v is not None else g
                      for g, v in enumerate(e["v"], start=2)
                      if v is not None or n >= g)
        return Entry(e["regex"], tmpl(e[name]), parts)
    return Bank(
        tuple(entry(e, "family") for e in banks["browsers"]),
        tuple(entry(e, "os") for e in banks["os"]),
        tuple(Entry(e["regex"], tmpl(e["device"]),
                    trim=e["device"] is not None)
              for e in banks["devices"]),
        blank_version=None, windows_nt=False)


def _prefix_literal(rx: str) -> str | None:
    """Longest plain-literal prefix of ``rx`` (up to the first metachar; a
    char followed by a quantifier is optional, so dropped), kept when at
    least 4 chars.  An entry is tried only on strings containing it: a
    cheap pre-filter that is part of the bank's semantics, since it also
    applies to alternations (``BB10|BlackBerry`` needs ``BB10``)."""
    out = []
    for i, c in enumerate(rx):
        if c in "\\[(|.?*+{^$":
            break
        if rx[i + 1:i + 2] in ("?", "*", "{"):
            break
        out.append(c)
    lit = "".join(out)
    return lit if len(lit) >= 4 else None


_TEMPLATE = re.compile(r"\$(\d)")
_WINDOWS_NT = re.compile(r"Windows NT (\d+\.\d+)", re.ASCII)


def _render(tmpl: str, m) -> str:
    """uap-core ``$N`` template; a group that did not participate is ''."""
    if "$" not in tmpl:
        return tmpl
    return _TEMPLATE.sub(lambda t: m.group(int(t.group(1))) or "", tmpl)


class Parser:
    """One bank, compiled; ``parse(ua)`` -> (name, version, os_name,
    os_version, device, device_type)."""

    def __init__(self, bank: Bank):
        def compiled(entries):
            return [(_prefix_literal(e.regex), re.compile(e.regex, re.ASCII),
                     e) for e in entries]
        self.bank = bank
        self.browsers = compiled(bank.browsers)
        self.os = compiled(bank.os)
        self.devices = compiled(bank.devices)
        self.device_types = [(t, re.compile(rx, re.ASCII))
                             for t, rx in DEVICE_TYPES]

    @staticmethod
    def _first(entries, ua):
        for lit, rx, e in entries:
            if lit is None or lit in ua:
                m = rx.search(ua)
                if m:
                    return m, e
        return None, None

    def _version(self, m, e):
        if not e.version:
            return None
        parts = [_render(p, m) if isinstance(p, str) else m.group(p) or ""
                 for p in e.version]
        return ".".join(p for p in parts if p) or self.bank.blank_version

    def parse(self, ua: str) -> tuple:
        name = os_name = device = "Other"
        version = os_version = None
        m, e = self._first(self.browsers, ua)
        if m:
            name, version = _render(e.name, m), self._version(m, e)
        m, e = self._first(self.os, ua)
        if m:
            os_name = _render(e.name, m)
            if self.bank.windows_nt and e.name == "Windows":
                nt = _WINDOWS_NT.search(ua)
                nt = nt.group(1) if nt else ""
                os_version = WINDOWS_NT_VERSIONS.get(nt, nt or None)
            else:
                os_version = self._version(m, e)
        m, e = self._first(self.devices, ua)
        if m:
            device = _render(e.name, m)
            if e.trim:
                device = device.strip(" ")
        device_type = next((t for t, rx in self.device_types
                            if rx.search(ua)), "Desktop")
        return name, version, os_name, os_version, device, device_type


# Per process (each Python worker): compiled banks by digest, and parses
# by (bank digest, UA) — the ES UserAgentCache, bounded.
_PARSER_CACHE = LRU(4)
_PARSE_MEMO = LRU(10_000)


def parse_series(bank: Bank, digest: str, uas, width: int):
    """Parse a pandas Series of UA strings (None: not parsed) into a frame
    of the first ``width`` parse fields, once per distinct string."""
    import pandas as pd

    parser = _PARSER_CACHE.get(digest)
    if parser is None:
        parser = _PARSER_CACHE[digest] = Parser(bank)
    codes, uniques = pd.factorize(uas)
    rows = []
    for ua in uniques:
        key = (digest, ua)
        hit = _PARSE_MEMO.get(key)
        if hit is None:
            hit = _PARSE_MEMO[key] = parser.parse(ua)
        rows.append(hit[:width])
    rows.append((None,) * width)  # code -1: a null input
    return pd.DataFrame(rows).iloc[codes].reset_index(drop=True)
